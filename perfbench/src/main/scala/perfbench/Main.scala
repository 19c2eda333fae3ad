package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.Engine

/** Options passed by run.py. `launchedMs` is the wall-clock time run.py
  * started the JVM, so set-up time includes JVM start.
  */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    dataDir: String, workDir: String, launchedMs: Long)

/** What a workload hands back: end-to-end metrics, per-layer metrics (traced
  * runs only), operation counts and the named checks.
  */
final class Result {
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val checks = mutable.LinkedHashMap[String, (Boolean, String)]()
  var attempted = 0L
  var failed = 0L
  /** Traced passes (catalogs) or traced micro-batches (stream): self times
    * are reported per unit.
    */
  var traceUnits = 1.0
  def check(name: String, ok: Boolean, detail: String): Unit = checks(name) = (ok, detail)
}

/** Benchmark harness entry point: one workload, one seed, one run.
  *
  * Prints progress on stderr and, as its last stdout line,
  * `PERFBENCH_RESULT <json>`, which run.py turns into the contract output.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spec = Json.mapper.readTree(new File(kv("spec")))
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("data"), kv("work"), kv("launched-ms").toLong)
    val wspec = spec.path("workloads").path(o.workload)
    require(!wspec.isMissingNode, s"unknown workload ${o.workload}")

    val tracer = new Tracer
    val res = new Result
    val t0 = System.nanoTime()
    val spark = Engine.session("perfbench", "local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(new File(o.workDir, "ckpt").getAbsolutePath)
    res.layers("engine.session_ms") = (System.nanoTime() - t0) / 1e6
    val dir = new File(o.dataDir, "sf" + wspec.path("scale").asText()).getAbsolutePath

    val listeners = new Listeners(spark, tracer)
    try o.workload match {
      case "orders_stream" => OrdersStream.run(spark, dir, o, wspec, tracer, listeners, res)
      case _ => Catalog.run(spark, dir, o, wspec, tracer, listeners, res)
    } finally listeners.detach()
    log(s"workload done at ${System.currentTimeMillis() - o.launchedMs} ms")
    res.layers("peak_rss_mb") = peakRssMb()
    if (o.trace) {
      listeners.drain()
      res.layers ++= Summary.selfTimes(tracer, res.traceUnits)
      tracer.write(new File(o.workDir, "trace.jsonl"))
    }
    spark.stop()
    log(s"stopped at ${System.currentTimeMillis() - o.launchedMs} ms")
    println("PERFBENCH_RESULT " + Json.result(res))
  }

  /** High-water resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** Small statistics helpers shared by the workloads. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
}

/** JSON of the harness: the spec it reads, the result line and the span file. */
object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def value(v: Any): String = mapper.writeValueAsString(v)
  def result(r: Result): String = value(mutable.LinkedHashMap[String, Any](
    "correct" -> r.checks.values.forall(_._1),
    "attempted" -> r.attempted,
    "failed" -> r.failed,
    "checks" -> r.checks.map { case (k, (ok, d)) => k -> Map("ok" -> ok, "detail" -> d) },
    "e2e" -> r.e2e,
    "layers" -> r.layers))
}
