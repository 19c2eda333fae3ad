package perfbench

import java.io.File
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.model.OrderModel
import graft.operators.{OrderPipeline, RefOrders}
import graft.streaming.OrderStream

/** The reference order pipeline, end to end: 3 keyed source partitions →
  * `OrderStream.process` → `observed` → one foreachBatch that routes, writes
  * both branches' Kafka payloads (`toMessages`) to the noop sink and upserts
  * the valid branch into embedded Derby through `jdbcUpsertViaStaging`.
  *
  * Inputs: `RefOrders.rawOrders` rendered as JSON lines in a seeded order,
  * with a seeded share of truncated (corrupt) lines. Key repetition is kept:
  * the same order_id can arrive several times, also within one batch, so
  * every record carries its arrival order into the upsert (`orderCols`) and
  * the last valid record per key must win. A record's source partition is
  * a hash of its key, as a keyed Kafka topic would place it.
  *
  * Phase (a), open loop: one generator thread sends records at seeded
  * Poisson arrival times at `rate_per_s`; each record's latency runs from
  * its scheduled send time to the end of the trigger that committed it,
  * for records scheduled after the phase's first `open_warmup_s`.
  * Phase (b), closed loop: one client adds `OrderStream.Config()
  * .maxOffsetsPerTrigger` records and waits for them, repeatedly.
  */
object OrdersStream {
  private val url = "jdbc:derby:memory:perfbench;create=true"
  private val table = "enriched_orders"

  /** One input record: its JSON line and its source partition. */
  final case class Rec(value: String, part: Int)

  /** What the foreachBatch saw of one micro-batch. */
  final class BatchRec {
    var valid, invalid = 0L
    var routeMs, envelopeMs, upsertMs = 0.0
    var failed, sinkFailed = false
  }

  /** Records appended to one source partition in one call. */
  final case class Block(part: Int, offset: Long, records: Array[Int])

  def run(spark: SparkSession, dir: String, o: Opts, w: JsonNode, tracer: Tracer,
      ls: Listeners, res: Result): Unit = {
    val rate = w.path("rate_per_s").asDouble
    val openS = o.seconds * w.path("open_loop_share").asDouble
    val closedS = o.seconds - openS
    val nParts = w.path("partitions").asInt
    val drainBatch = OrderStream.Config().maxOffsetsPerTrigger.toInt
    val rng = new scala.util.Random(o.seed)

    // ---- set-up: inputs, sink table, streaming query
    val g0 = System.nanoTime()
    val warmS = w.path("open_warmup_s").asDouble
    val arrivalsNs = poissonArrivals(rng, rate, warmS + openS)
    val need = w.path("warmup_records").asInt + arrivalsNs.length + drainBatch * (closedS.toInt * 4 + 8)
    val input = render(spark, dir, rng, w.path("corrupt_frac").asDouble, nParts, need)
    res.layers("gen.render_ms") = (System.nanoTime() - g0) / 1e6
    derbyVarcharDialect
    createTable()

    val streams = Array.fill(nParts)(MemoryStream[String](1)(Encoders.STRING, spark.sqlContext))
    val processed = OrderStream.observed(OrderStream.process(streams.map(_.toDF()).reduce(_ union _)))
    val batches = new ConcurrentHashMap[Long, BatchRec]()
    val props = new Properties()
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val query = processed.writeStream
      .option("checkpointLocation", new File(o.workDir, "stream-ckpt").getAbsolutePath)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batches.put(id, sinkBatch(batch, id, props, tracer)); ()
      }
      .start()

    val blocks = mutable.ArrayBuffer[Block]()
    var next = 0
    def send(idx: Array[Int]): Unit = idx.groupBy(input(_).part).toSeq.sortBy(_._1).foreach { case (p, is) =>
      val off = streams(p).addData(is.toSeq.map(input(_).value))
      blocks.synchronized(blocks += Block(p, off.json.toLong, is))
    }
    def closedBatch(n: Int): Double = {
      val s = System.nanoTime()
      send(Array.range(next, next + n))
      next += n
      query.processAllAvailable()
      (System.nanoTime() - s) / 1e6
    }
    val w0 = System.nanoTime()
    closedBatch(w.path("warmup_records").asInt)
    val warmBatches = batches.keySet.asScala.maxOption.getOrElse(-1L)

    // ---- phase (a): open loop. Its first `open_warmup_s` belong to set-up:
    // the JIT keeps speeding up the small-batch path for about ten seconds,
    // and only records scheduled after that are measured.
    if (o.trace) { tracer.on = true; ls.attach() }
    val settleNs = (warmS * 1e9).toLong
    val firstOpen = next
    val sentNs = new Array[Long](arrivalsNs.length)
    val genStart = System.nanoTime()
    var i = 0
    while (i < arrivalsNs.length) {
      val now = System.nanoTime() - genStart
      if (now >= settleNs && !res.e2e.contains("setup_s")) {
        res.e2e("setup_s") = (System.currentTimeMillis() - o.launchedMs) / 1000.0
        res.layers("engine.warm_ms") = (System.nanoTime() - w0) / 1e6
      }
      if (arrivalsNs(i) > now) LockSupport.parkNanos(math.min(arrivalsNs(i) - now, 1000000L))
      else {
        var j = i
        while (j < arrivalsNs.length && arrivalsNs(j) <= now) j += 1
        send(Array.range(firstOpen + i, firstOpen + j))
        val at = System.nanoTime() - genStart
        (i until j).foreach(sentNs(_) = at)
        i = j
      }
    }
    query.processAllAvailable()
    next += arrivalsNs.length
    val allOpen = progressAfter(query.recentProgress, warmBatches)
    val openStats = openLoopStats(allOpen, blocks.toSeq, streams.map(_.toString), firstOpen,
      arrivalsNs, sentNs, genStart, settleNs, tracer)
    val openProgress = allOpen.filter(p => tracer.msToNs(startMs(p)) - genStart >= settleNs)
    val lastOpen = allOpen.map(_.batchId).maxOption.getOrElse(warmBatches)

    // ---- phase (b): closed loop. Traced runs trace batches in the order
    // untraced, traced, traced, untraced, ... so drift between batches
    // cancels out of the overhead.
    val closedMs = mutable.ArrayBuffer[(Boolean, Double)]()
    val c0 = System.nanoTime()
    while (closedMs.size < (if (o.trace) 4 else 3) || (System.nanoTime() - c0) < closedS * 1e9) {
      require(next + drainBatch <= input.length, "input exhausted; raise the render size")
      val traced = o.trace && (closedMs.size + 1) / 2 % 2 == 1
      tracer.on = traced
      if (traced) ls.attach() else ls.detach()
      closedMs += ((traced, closedBatch(drainBatch)))
    }
    if (o.trace) ls.drain()
    tracer.on = false
    ls.detach()
    query.stop()

    // ---- checks
    val sent = next
    val recs = batches.asScala.toMap
    val allProgress = query.recentProgress.toSeq
    res.attempted = sent
    val routed = recs.values.map(r => r.valid + r.invalid).sum
    res.check("routed_equals_sent", routed == sent, s"routed $routed valid+invalid of $sent sent")
    val badObserved = allProgress.filter { p =>
      val m = Option(p.observedMetrics.get("order_metrics"))
      val r = recs.get(p.batchId)
      p.numInputRows > 0 && (m.isEmpty || r.isEmpty ||
        m.get.getAs[Long]("messages_valid") != r.get.valid ||
        m.get.getAs[Long]("messages_invalid") != r.get.invalid ||
        m.get.getAs[Long]("messages_processed") != p.numInputRows)
    }
    res.check("observed_equals_routed", badObserved.isEmpty,
      s"${allProgress.count(_.numInputRows > 0) - badObserved.size}/${allProgress.count(_.numInputRows > 0)} " +
        "batches whose order_metrics counters equal the routed counts")
    val failedBatches = recs.filter { case (_, r) => r.failed || r.sinkFailed }
    val d0 = System.nanoTime()
    val derbyMismatch = derbyCheck(spark, input.take(sent).map(_.value).toSeq)
    Main.log(f"derby check ${(System.nanoTime() - d0) / 1e6}%.0f ms")
    res.check("derby_last_valid_per_key", derbyMismatch == 0,
      s"$derbyMismatch keys differ between Derby and the last valid record per key")
    res.failed = math.abs(sent - routed) + badObserved.map(_.numInputRows).sum +
      failedBatches.keys.flatMap(id => allProgress.find(_.batchId == id)).map(_.numInputRows).sum +
      derbyMismatch

    // ---- metrics
    val untracedClosed = closedMs.filterNot(_._1).map(_._2)
    res.e2e("latency_p50_ms") = Stats.median(openStats.latencyMs)
    res.e2e("latency_p90_ms") = Stats.quantile(openStats.latencyMs, 0.9)
    res.e2e("pass_s") = Stats.median(untracedClosed) / 1000
    Main.log(s"open loop: ${arrivalsNs.length} records in ${openProgress.size} batches; " +
      s"closed loop: ${closedMs.size} batches of $drainBatch, " +
      f"${drainBatch / (Stats.median(untracedClosed) / 1000)}%.0f records/s")
    allProgress.sortBy(_.batchId).foreach { p =>
      val r = recs.get(p.batchId)
      Main.log(s"batch ${p.batchId}: ${p.numInputRows} rows, trigger ${p.durationMs.get("triggerExecution")} ms, " +
        f"envelope ${r.map(_.envelopeMs).getOrElse(0.0)}%.0f ms, upsert ${r.map(_.upsertMs).getOrElse(0.0)}%.0f ms")
    }

    def p50ms(key: String) = Stats.median(openProgress.map(p => p.durationMs.getOrDefault(key, 0L).toDouble))
    val closedRecs = recs.filter(_._1 > lastOpen).values.toSeq
    res.layers ++= Seq(
      "stream.trigger_ms_p50" -> p50ms("triggerExecution"),
      "stream.query_planning_ms_p50" -> p50ms("queryPlanning"),
      "stream.add_batch_ms_p50" -> p50ms("addBatch"),
      "stream.wal_commit_ms_p50" -> p50ms("walCommit"),
      "stream.commit_offsets_ms_p50" -> p50ms("commitOffsets"),
      "stream.records_per_batch_p50" -> Stats.median(openProgress.map(_.numInputRows.toDouble)),
      "stream.open_batches" -> openProgress.size.toDouble,
      "stream.backlog_max" -> openStats.backlogMax,
      "gen.lag_p99_ms" -> Stats.quantile(openStats.lagMs, 0.99),
      "route.ms_p50" -> Stats.median(closedRecs.map(_.routeMs)),
      "envelope.ms_p50" -> Stats.median(closedRecs.map(_.envelopeMs)),
      "sink.upsert_ms_p50" -> Stats.median(closedRecs.map(_.upsertMs)),
      "sink.failed_batches" -> failedBatches.size.toDouble)
    if (o.trace) {
      val traced = closedMs.filter(_._1).map(_._2)
      res.layers("trace.overhead_pct") = 100 * (Stats.median(traced) / Stats.median(untracedClosed) - 1)
      val jobs = tracer.spans.synchronized(tracer.spans.toVector).filter(_.layer == "spark")
        .flatMap(s => s.attrs.get("tags").toSeq.flatMap(_.toString.split(","))
          .find(_.startsWith("pb-batch-")))
      res.layers("stream.jobs_per_batch") = Stats.median(jobs.groupBy(identity).values.map(_.size.toDouble).toSeq)
      res.traceUnits = tracer.spans.synchronized(tracer.spans.count(_.name.startsWith("batch ")))
    }
  }

  /** The foreachBatch body: route, both Kafka payloads to noop, upsert. */
  private def sinkBatch(batch: DataFrame, id: Long, props: Properties, tracer: Tracer): BatchRec = {
    val rec = new BatchRec
    val sc = batch.sparkSession.sparkContext
    val tag = s"pb-batch-$id"
    sc.addJobTag(tag)
    try tracer.span(s"batch $id", "bench", Map("batch" -> id)) {
      batch.persist()
      try {
        val t0 = System.nanoTime()
        val (valid, invalid) = tracer.span("route", "operators")(OrderPipeline.route(batch))
        val t1 = System.nanoTime()
        val ov = Observation(s"valid-$id")
        val oi = Observation(s"invalid-$id")
        tracer.span("envelope", "exec_driver") {
          OrderStream.toMessages(valid).observe(ov, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          OrderStream.toMessages(invalid).observe(oi, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
        }
        rec.valid = ov.get("n").asInstanceOf[Long]
        rec.invalid = oi.get("n").asInstanceOf[Long]
        val t2 = System.nanoTime()
        try tracer.span("upsert", "sink") {
          OrderStream.jdbcUpsertViaStaging(
            OrderPipeline.projectEnriched(valid).withColumn("arrival", monotonically_increasing_id()),
            url, table, props, "order_id", Seq("arrival"))
        } catch {
          case e: Exception =>
            rec.sinkFailed = true
            Main.log(s"batch $id upsert failed: $e")
        }
        rec.routeMs = (t1 - t0) / 1e6
        rec.envelopeMs = (t2 - t1) / 1e6
        rec.upsertMs = (System.nanoTime() - t2) / 1e6
      } finally batch.unpersist()
    } catch {
      case e: Exception =>
        rec.failed = true
        Main.log(s"batch $id failed: $e")
    } finally sc.removeJobTag(tag)
    rec
  }

  /** Seeded Poisson arrival times (ns from the start) over `seconds`. */
  def poissonArrivals(rng: scala.util.Random, rate: Double, seconds: Double): Array[Long] = {
    val out = mutable.ArrayBuilder.make[Long]
    var t = 0.0
    while ({ t += -math.log(1 - rng.nextDouble()) / rate; t < seconds }) out += (t * 1e9).toLong
    out.result()
  }

  /** The first `need` records of `RefOrders.rawOrders` as JSON lines in a
    * seeded order (by a seeded hash of each line, so the order does not
    * depend on how Spark partitioned the scan), with a seeded share of
    * truncated lines.
    */
  def render(spark: SparkSession, dir: String, rng: scala.util.Random, corruptFrac: Double,
      nParts: Int, need: Int): Array[Rec] = {
    val raw = RefOrders.rawOrders(spark, dir)
    val lines = raw.select(to_json(struct(raw.columns.map(col).toIndexedSeq: _*)).as("v"),
        coalesce(col("order_id"), lit("unknown")).as("key"))
    lines.orderBy(xxhash64(lit(rng.nextLong()), col("v")), col("v")).limit(need).collect().map { r =>
      val v = r.getString(0)
      val line = if (rng.nextDouble() < corruptFrac) v.substring(0, 1 + rng.nextInt(v.length - 1)) else v
      Rec(line, Math.floorMod(r.getString(1).hashCode, nParts))
    }
  }

  final case class OpenStats(latencyMs: Seq[Double], lagMs: Seq[Double], backlogMax: Double)

  private def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli

  private def progressAfter(ps: Array[StreamingQueryProgress], batchId: Long): Seq[StreamingQueryProgress] =
    ps.toSeq.filter(p => p.batchId > batchId && p.numInputRows > 0).sortBy(_.batchId)

  /** Per-record latency of the open loop: each block is committed by the
    * first trigger whose end offset for its partition reaches the block.
    * Records scheduled before `settleNs` (set-up) are left out.
    */
  private def openLoopStats(progress: Seq[StreamingQueryProgress], blocks: Seq[Block],
      sourceNames: Array[String], firstOpen: Int, arrivalsNs: Array[Long], sentNs: Array[Long],
      genStart: Long, settleNs: Long, tracer: Tracer): OpenStats = {
    val ends = progress.map { p =>
      val endNs = tracer.msToNs(startMs(p) + p.durationMs.getOrDefault("triggerExecution", 0L)) - genStart
      val offsets = sourceNames.indices.map { k =>
        val sp = p.sources.find(_.description == sourceNames(k)).getOrElse(p.sources(k))
        Option(sp.endOffset).map(s => Json.mapper.readTree(s).asLong(-1)).getOrElse(-1L)
      }
      (endNs, offsets)
    }
    val latency = mutable.ArrayBuffer[Double]()
    blocks.filter(_.records.head >= firstOpen).foreach { b =>
      ends.find(_._2(b.part) >= b.offset).foreach { case (endNs, _) =>
        b.records.map(r => arrivalsNs(r - firstOpen)).filter(_ >= settleNs)
          .foreach(a => latency += (endNs - a) / 1e6)
      }
    }
    val lag = arrivalsNs.indices.filter(arrivalsNs(_) >= settleNs).map(i => (sentNs(i) - arrivalsNs(i)) / 1e6)
    val sortedSent = sentNs.sorted
    var committed = 0L
    val backlog = progress.zip(ends).flatMap { case (p, (endNs, _)) =>
      committed += p.numInputRows
      val sentBy = java.util.Arrays.binarySearch(sortedSent, endNs) match {
        case k if k >= 0 => k + 1
        case k => -k - 1
      }
      if (endNs >= settleNs) Some((sentBy - committed).toDouble) else None
    }
    OpenStats(latency.toSeq, lag, backlog.maxOption.getOrElse(0.0))
  }

  /** Keys whose Derby row differs from the expected state: the last valid
    * record per order_id, in arrival order, processed by the same pipeline
    * as one batch.
    */
  private def derbyCheck(spark: SparkSession, sent: Seq[String]): Long = {
    val fields = OrderModel.EnrichedFields
    // an RDD, not a local relation: the optimizer would evaluate the whole
    // pipeline over a local relation on the driver, row by row
    val arrived = spark.createDataset(spark.sparkContext.parallelize(sent, 4))(Encoders.STRING)
      .toDF("value")
    val expected = OrderStream.process(arrived)
      .withColumn("arrival", monotonically_increasing_id())
      .filter(col("is_valid"))
      .withColumn("rn", row_number().over(Window.partitionBy("order_id").orderBy(col("arrival").desc)))
      .filter(col("rn") === 1)
      .select(fields.map(col): _*)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val actual = Map.newBuilder[String, Seq[Any]]
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT ${fields.mkString(", ")} FROM $table")
      while (rs.next()) actual += rs.getString(1) -> fields.indices.map(i => rs.getObject(i + 1))
    } finally conn.close()
    val got = actual.result()
    (expected.keySet ++ got.keySet).count(k => expected.get(k) != got.get(k)).toLong
  }

  private def createTable(): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      s"""CREATE TABLE $table (
         |  order_id VARCHAR(255) PRIMARY KEY, product_name VARCHAR(255),
         |  quantity DOUBLE, price DOUBLE, order_date VARCHAR(50),
         |  total_price DOUBLE)""".stripMargin)
    finally conn.close()
  }

  /** Spark's Derby dialect maps strings to CLOB, which the staging MERGE
    * cannot compare; the production target (Postgres) has no such split.
    */
  private lazy val derbyVarcharDialect: Unit =
    org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(new org.apache.spark.sql.jdbc.JdbcDialect {
      override def canHandle(u: String): Boolean = u.startsWith("jdbc:derby")
      override def getJDBCType(dt: org.apache.spark.sql.types.DataType) = dt match {
        case org.apache.spark.sql.types.StringType =>
          Some(org.apache.spark.sql.jdbc.JdbcType("VARCHAR(255)", java.sql.Types.VARCHAR))
        case _ => None
      }
    })
}
