package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one workload run shares: the session, the tracer, its
  * inputs and the tally of attempted and failed operations. */
final class Ctx(val spark: SparkSession, val trace: Trace, val workload: String,
                val seed: Long, val seconds: Int, val work: File) {
  var attempted = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Count one operation; a false `ok` is a failure with its cause. */
  def check(ok: Boolean, cause: => String): Unit = {
    attempted += 1
    if (!ok) { failures += cause; System.err.println(s"[perfbench] MISMATCH: $cause") }
  }

  def dir(name: String): String = new File(work, name).getAbsolutePath

  /** Run the timed loop body until `seconds` have passed, and at least
    * `minIters` times. Returns the elapsed seconds. */
  def loop(minIters: Int = 1)(body: Int => Unit): Double = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minIters || (System.nanoTime() - t0) / 1e9 < seconds) { body(i); i += 1 }
    (System.nanoTime() - t0) / 1e9
  }
}

/** A metric as reported: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload returns: the contract's end-to-end metrics, the
  * workload's own named metrics (printed, not in the JSON line) and
  * per-layer metrics for the traced run. */
final case class Outcome(endToEnd: Seq[Metric], named: Seq[Metric], layers: Seq[Metric],
                         params: Seq[(String, Any)])

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <ingest_refresh|search_serving>
  *      --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  * Prints a human-readable report, then one JSON line:
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}` with the
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1).
  * Exits 1 if any output mismatched.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = new File(opt("work"))
    val cores = graft.GraftSession.defaultParallelism
    require(Workloads.all.contains(workload),
      s"unknown workload $workload (expected one of ${Workloads.all.keys.toSeq.sorted.mkString(", ")})")

    val spark = graft.GraftSession.local(s"perfbench-$workload", cores)
    val trace = new Trace(spark.sparkContext, workload, traced)
    val ctx = new Ctx(spark, trace, workload, seed, seconds, work)
    val out = Workloads.all(workload)(ctx)
    trace.drain()

    val pinnedMb = Layers.pinnedMb(spark)
    // the workload's layer metrics first: the probes that follow run
    // jobs, compile code and pin blocks of their own
    val layerMetrics = if (!traced) Nil else {
      val workloadLayers = Layers.common(ctx, pinnedMb) ++ out.layers
      Layers.complete(workloadLayers ++ Layers.kernels(spark) ++ Curation.probe(ctx))
    }
    trace.stop()
    val errorRate = ctx.failures.size.toDouble / math.max(1L, ctx.attempted)
    val provenance = Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cpus" -> cores, "master" -> spark.sparkContext.master,
      "git_head" -> sys.env.getOrElse("PERFBENCH_GIT_HEAD", "unknown"),
      "source_stamp" -> sys.env.getOrElse("PERFBENCH_SOURCE_STAMP", "unknown"),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "sf" -> "sf0.1-shaped (generated)") ++ out.params

    println("[perfbench] provenance " + Json.obj(provenance))
    (out.named :+ Metric("pinned_mb", pinnedMb, "MB") :+ Metric("error_rate", errorRate, "ratio"))
      .foreach(m => println(f"[perfbench] $workload ${m.name}%-22s ${m.value}%14.4f ${m.unit}"))
    if (traced) {
      println(f"[perfbench] span                                   n      wall_s      self_s       gap_s")
      trace.spanTable.foreach { case (name, n, wall, self, gap) =>
        println(f"[perfbench] ${name.take(36)}%-36s $n%5d ${wall / 1e9}%11.4f ${self / 1e9}%11.4f ${gap / 1e9}%11.4f")
      }
      layerMetrics.foreach(m => println(f"[perfbench] layer ${m.name}%-28s ${m.value}%14.4f ${m.unit}"))
    }
    ctx.failures.foreach(f => println(s"[perfbench] failure: $f"))
    val correct = ctx.failures.isEmpty
    println(s"[perfbench] verdict correct=$correct attempted=${ctx.attempted} failed=${ctx.failures.size}")
    val metrics = (if (traced) layerMetrics else out.endToEnd)
      .map(m => m.name -> Json.obj(Seq("value" -> m.value, "unit" -> m.unit)))
    println(Json.obj(Seq("correct" -> correct, "attempted" -> ctx.attempted,
      "failed" -> ctx.failures.size.toLong, "metrics" -> Json.Raw(Json.obj(metrics.map {
        case (k, v) => k -> Json.Raw(v)
      })))))
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}

/** Minimal JSON rendering for the report lines. */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s => str(s.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
