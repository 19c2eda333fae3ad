package perfbench

import java.io.File
import java.util.concurrent.{Executors, ScheduledExecutorService, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.SparkEntry

/** Runs `body` under a job tag with a time budget: when the budget runs
  * out, every job carrying the tag is cancelled. Construction is inside
  * the budget too, so eager memo builds and trainers are bounded.
  */
final class Budget(spark: SparkSession) {
  private val watchdog: ScheduledExecutorService = Executors.newSingleThreadScheduledExecutor(
    new ThreadFactory {
      def newThread(r: Runnable): Thread = { val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t }
    })

  /** Right(result), or Left("timeout") / Left(error text). */
  def apply[T](tag: String, budgetMs: Long)(body: => T): Either[String, T] = {
    val sc = spark.sparkContext
    val timedOut = new AtomicBoolean(false)
    sc.addJobTag(tag)
    val alarm = watchdog.schedule(new Runnable {
      def run(): Unit = { timedOut.set(true); sc.cancelJobsWithTag(tag) }
    }, budgetMs, TimeUnit.MILLISECONDS)
    try {
      val r = body
      if (timedOut.get) Left("timeout") else Right(r)
    } catch {
      case e: Throwable => Left(if (timedOut.get) "timeout" else e.toString.take(300))
    } finally {
      alarm.cancel(false)
      sc.removeJobTag(tag)
    }
  }

  def close(): Unit = watchdog.shutdownNow()
}

/** The two catalog workloads: a frozen list of named queries from
  * `SparkEntry.queries`, run one after another by one client (closed
  * loop), each pass in a seeded order.
  *
  *  - set-up ends with an untimed check pass: every query's output is
  *    collected and its row count and order-insensitive hash compared with
  *    the frozen values;
  *  - then timed passes run while the next one is expected to end within
  *    `--seconds` (at least one; at least two when traced). A query's latency is its median over the
  *    run's passes, and the latency percentiles are taken over queries, so
  *    one slow execution (a GC pause, a late JIT compile) moves one sample
  *    of many rather than the percentile.
  *
  * Memo builds, eager trainers and checkpoint writes happen in the check
  * pass (the operator memos start empty in a fresh JVM), so they show in
  * set-up time; `memo.*` counts the checkpoint files that pass writes.
  */
object Catalog {
  final case class Query(name: String, family: String, rows: Long, hash: Option[String])

  def run(spark: SparkSession, dir: String, o: Opts, w: JsonNode, tracer: Tracer,
      ls: Listeners, res: Result): Unit = {
    val budgetMs = (w.path("budget_s").asDouble(60) * 1000).toLong
    val queries = w.path("queries").elements.asScala.map { q =>
      Query(q.get("name").asText, q.get("family").asText, q.path("rows").asLong(-1),
        Option(q.get("hash")).filterNot(_.isNull).map(_.asText))
    }.toVector
    val rng = new scala.util.Random(o.seed)
    val budget = new Budget(spark)
    val ckptDir = new File(o.workDir, "ckpt")

    // ---- set-up: check pass (also warms the JVM and builds the operator memos)
    val mismatches = mutable.ArrayBuffer[String]()
    val observed = mutable.ArrayBuffer[(String, Long, String)]()
    val ckpt0 = Files.sizes(ckptDir)
    rng.shuffle(queries).foreach { q =>
      res.attempted += 1
      val s = System.nanoTime()
      val r = budget(s"pb-check-${q.name}", budgetMs)(Digest.of(SparkEntry.queries(q.name)(spark, dir)))
      Main.log(f"check ${q.name} ${(System.nanoTime() - s) / 1e6}%.0f ms")
      r match {
        case Right((n, h)) =>
          observed += ((q.name, n, h))
          if (n != q.rows || q.hash.exists(_ != h)) {
            res.failed += 1
            mismatches += s"${q.name} (rows $n, hash $h)"
          }
        case Left(err) =>
          observed += ((q.name, -1L, err))
          res.failed += 1
          mismatches += s"${q.name} ($err)"
      }
    }
    res.check("catalog_outputs", mismatches.isEmpty,
      s"${queries.size - mismatches.size}/${queries.size} queries match their frozen row count and hash" +
        (if (mismatches.isEmpty) "" else ": " + mismatches.mkString(", ")))
    writeObserved(new File(o.workDir, "check_outputs.tsv"), observed.toSeq)
    val ckpt1 = Files.sizes(ckptDir)
    val fresh = ckpt1.keySet -- ckpt0.keySet
    res.layers("memo.ckpt_files") = fresh.size
    res.layers("memo.ckpt_bytes") = fresh.toSeq.map(ckpt1).sum.toDouble
    // untimed warm-up passes: the JIT keeps speeding up the second pass
    val w0 = System.nanoTime()
    (1 to w.path("warmup_passes").asInt).foreach(_ => rng.shuffle(queries).foreach { q =>
      budget(s"pb-warm-${q.name}", budgetMs)(
        SparkEntry.queries(q.name)(spark, dir).write.format("noop").mode("overwrite").save())
    })
    res.layers("engine.warm_ms") = (System.nanoTime() - w0) / 1e6
    res.e2e("setup_s") = (System.currentTimeMillis() - o.launchedMs) / 1000.0

    // ---- timed passes. A traced run traces query k of pass p when k + p is
    // odd: every query runs traced and untraced, and half of each pass is
    // traced, so warm-up drift between passes cancels out of the overhead.
    val latencies = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val byFamily = mutable.Map[String, Double]()
    val passMs = mutable.ArrayBuffer[Double]()
    val tracedMs, untracedMs = mutable.Map[String, Double]()
    var tracedRuns, compileNs = 0L
    val index = queries.map(_.name).zipWithIndex.toMap
    val t0 = System.nanoTime()
    def elapsedNs = System.nanoTime() - t0
    var pass = 0
    while (pass == 0 || (o.trace && pass < 2) ||
        elapsedNs + Stats.median(passMs) * 1e6 <= o.seconds * 1e9) {
      val p0 = System.nanoTime()
      rng.shuffle(queries).foreach { q =>
        val traced = o.trace && (index(q.name) + pass) % 2 == 1
        tracer.on = traced
        if (traced) ls.attach()
        val compile0 = CodeGenerator.compileTime
        val s = System.nanoTime()
        val r = budget(s"pb-$pass-${q.name}", budgetMs) {
          tracer.span(q.name, "bench", Map("query" -> q.name)) {
            val df = tracer.span("construct", "operators")(SparkEntry.queries(q.name)(spark, dir))
            tracer.span("execute", "exec_driver")(df.write.format("noop").mode("overwrite").save())
          }
        }
        val ms = (System.nanoTime() - s) / 1e6
        latencies.getOrElseUpdate(q.name, mutable.ArrayBuffer()) += ms
        byFamily(q.family) = byFamily.getOrElse(q.family, 0.0) + ms
        (if (traced) tracedMs else untracedMs)(q.name) = ms
        Main.log(f"pass $pass ${q.name} $ms%.0f ms${if (traced) " (traced)" else ""}")
        res.attempted += 1
        r.left.foreach { err =>
          res.failed += 1
          Main.log(s"pass $pass ${q.name}: $err")
        }
        if (traced) {
          compileNs += CodeGenerator.compileTime - compile0
          tracedRuns += 1
          ls.drain()
          ls.detach()
          tracer.on = false
        }
      }
      passMs += (System.nanoTime() - p0) / 1e6
      pass += 1
    }
    budget.close()
    val timedS = elapsedNs / 1e9
    Main.log(f"$pass passes of ${queries.size} queries in $timedS%.1f s")

    val perQuery = latencies.values.map(Stats.median).toSeq
    res.e2e("latency_p50_ms") = Stats.median(perQuery)
    res.e2e("latency_p90_ms") = Stats.quantile(perQuery, 0.9)
    res.e2e("pass_s") = Stats.median(passMs) / 1000
    byFamily.foreach { case (f, ms) => res.layers(s"family.${f}_ms_sum") = ms / pass }
    if (o.trace) {
      // traced work, in units of one full pass over the query list
      val units = tracedRuns.toDouble / queries.size
      val both = tracedMs.keySet.intersect(untracedMs.keySet).toSeq
      res.layers("trace.overhead_pct") =
        100 * (both.map(tracedMs).sum / both.map(untracedMs).sum - 1)
      res.layers("codegen.compile_ms_sum") = compileNs / 1e6 / units
      res.layers ++= QueryLayers.of(tracer, ls, units)
      res.traceUnits = units
    }
  }

  private def writeObserved(f: File, rows: Seq[(String, Long, String)]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try rows.sortBy(_._1).foreach { case (n, c, h) => w.println(s"$n\t$c\t$h") } finally w.close()
  }
}

/** Per-query layer metrics of the traced catalog queries, per full pass. */
object QueryLayers {
  def of(tracer: Tracer, ls: Listeners, units: Double): Map[String, Double] = {
    val spans = tracer.spans.synchronized(tracer.spans.toVector)
    val jobs = spans.filter(_.layer == "spark")
    val construct = spans.filter(_.name == "construct")
    val execute = spans.filter(_.name == "execute")
    def inside(outer: Seq[Span])(s: Span) = outer.exists(o => o.startNs <= s.startNs && s.startNs < o.endNs)
    val phase = spans.filter(_.layer == "catalyst").groupBy(_.name)
      .map { case (k, v) => k -> v.map(_.durNs).sum / 1e6 }
    val gap = execute.map { e =>
      val iv = jobs.filter(j => e.startNs <= j.startNs && j.startNs < e.endNs)
        .map(j => (j.startNs, math.min(j.endNs, e.endNs)))
      (e.durNs - Summary.unionNs(iv)) / 1e6
    }.sum
    val stages = ls.stages.synchronized(ls.stages.toVector)
    val plans = ls.plans.synchronized(ls.plans.toVector)
    val n = math.max(units, 1e-9)
    Map(
      "construct.ms_sum" -> construct.map(_.durNs).sum / 1e6 / n,
      "construct.jobs" -> jobs.count(inside(construct)) / n,
      "plan.analysis_ms_sum" -> phase.getOrElse("analysis", 0.0) / n,
      "plan.optimization_ms_sum" -> phase.getOrElse("optimization", 0.0) / n,
      "plan.planning_ms_sum" -> phase.getOrElse("planning", 0.0) / n,
      "plan.nodes_max" -> plans.map(_.nodes).maxOption.getOrElse(0).toDouble,
      "plan.expr_nodes_max" -> plans.map(_.exprNodesMax).maxOption.getOrElse(0).toDouble,
      "plan.graft_expr_nodes" -> plans.map(_.graftExprNodes).sum / n,
      "exec.jobs" -> jobs.count(inside(execute)) / n,
      "exec.stages" -> stages.size / n,
      "exec.tasks" -> stages.map(_.tasks).sum / n,
      "exec.task_run_ms_sum" -> stages.map(_.runMs).sum / n,
      "exec.sched_gap_ms_sum" -> gap / n,
      "exec.input_bytes" -> stages.map(_.inputBytes).sum / n,
      "exec.shuffle_read_bytes" -> stages.map(_.shuffleReadBytes).sum / n,
      "exec.shuffle_write_bytes" -> stages.map(_.shuffleWriteBytes).sum / n,
      "exec.spill_bytes" -> stages.map(_.spillBytes).sum / n,
      "exec.reused_exchanges" -> plans.map(_.reusedExchanges).sum / n)
  }
}

/** Row count and order-insensitive 64-bit hash of a query's output. Doubles
  * are rounded to 6 significant digits, so summation order cannot change
  * the hash; -0.0 and 0.0 hash alike.
  */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    var sum = 0L
    var n = 0L
    df.collect().foreach { r =>
      val s = norm(r)
      sum += (scala.util.hashing.MurmurHash3.stringHash(s, 1).toLong << 32) |
        (scala.util.hashing.MurmurHash3.stringHash(s, 2) & 0xffffffffL)
      n += 1
    }
    (n, java.lang.Long.toHexString(sum))
  }

  private def dbl(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.5e", Double.box(d))

  def norm(v: Any): String = v match {
    case null => "~"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case b: Array[Byte] => b.mkString("<", ",", ">")
    case m: collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("{", ",", "}")
    case s: collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case x => x.toString
  }
}

/** File listing helper for the checkpoint directory. */
object Files {
  def sizes(root: File): Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.isFile) out += f.getPath -> f.length
    walk(root)
    out.result()
  }
}
