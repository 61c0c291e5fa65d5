package perfbench

import org.apache.spark.sql.SparkSession

/** Workload registry and the per-layer metrics every traced run reports. */
object Workloads {
  val all: Map[String, Ctx => Outcome] = Map(
    "ingest_refresh" -> Ingest.run,
    "search_serving" -> Search.run)
}

object Layers {

  /** Every per-layer metric a traced run reports, in report order, with
    * its unit and the direction that is better. A layer a workload does
    * not exercise reports 0 (see the notes for which workload moves
    * which metric). */
  val perLayer: Seq[(String, String, String)] = Seq(
    ("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"), ("spark.task_s", "s", "lower"),
    ("spark.busy_s", "s", "lower"), ("spark.input_mb", "MB", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"), ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"), ("driver.gap_s", "s", "lower"),
    ("codegen.compiles", "count", "lower"), ("codegen.compile_ms", "ms", "lower"),
    ("jvm.gc_s", "s", "lower"), ("jvm.heap_peak_mb", "MB", "lower"),
    ("storage.pinned_mb", "MB", "lower"),
    ("merge.upsert_s", "s", "lower"), ("merge.replace_keys_s", "s", "lower"),
    ("merge.create_s", "s", "lower"), ("merge.files_written", "count", "lower"),
    ("merge.files_linked", "count", "higher"), ("merge.bytes_written", "MB", "lower"),
    ("merge.write_amp", "ratio", "lower"), ("merge.versions_live", "count", "lower"),
    ("merge.manifest_entries", "count", "lower"), ("cdc.s", "s", "lower"),
    ("cdc.changed_ratio", "ratio", "lower"), ("silver.run_s", "s", "lower"),
    ("chunk.ns_per_char", "ns", "lower"), ("gold.build_s", "s", "lower"),
    ("sink.export_s", "s", "lower"), ("sql.optimize_s", "s", "lower"),
    ("sql.vacuum_s", "s", "lower"), ("sql.history_s", "s", "lower")) ++
    Search.AllKinds.map(k => (s"search.${k}_ms", "ms", "lower")) ++ Seq(
    ("scan.plan_ms", "ms", "lower"), ("scan.files_planned", "count", "lower"),
    ("scan.files_read", "count", "lower"), ("scan.skip_ratio", "ratio", "higher"),
    ("driver.plan_ms", "ms", "lower"),
    ("kernel.graft_cosine_ns_row", "ns", "lower"), ("kernel.hof_cosine_ns_row", "ns", "lower"),
    ("kernel.graft_minhash_ns_row", "ns", "lower"), ("kernel.graft_simhash_ns_row", "ns", "lower")) ++
    Curation.Roster.map(q => (s"curation.${q}_s", "s", "lower")) ++ Seq(
    ("curation.cold_s", "s", "lower"), ("curation.warm_s", "s", "lower"))

  /** The full per-layer list: measured values, 0 for layers this
    * workload did not exercise, then any workload-specific extras. */
  def complete(measured: Seq[Metric]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    perLayer.map { case (n, u, _) => byName.getOrElse(n, Metric(n, 0.0, u)) } ++
      measured.filterNot(m => perLayer.exists(_._1 == m.name))
  }

  /** Spark storage held by cached and checkpointed blocks, after a GC so
    * that blocks of unreachable RDDs have been cleaned. */
  def pinnedMb(spark: SparkSession): Double = {
    System.gc(); Thread.sleep(300)
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
  }

  /** Classes compiled and total compile time (ns), both exact and
    * JVM-wide: `CodegenMetrics` counts every compile, and
    * `CodeGenerator.compileTime` sums their durations. */
  private def codegen: (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
  private var codegen0 = (0L, 0L)

  /** Mark the start of the measured phase: codegen counts and layer
    * samples count from here. */
  def markMeasured(ctx: Ctx): Unit = { codegen0 = codegen; ctx.trace.startMeasuring() }

  /** Kernel microbenchmarks: ns per row of the native `graft_*`
    * expressions (and the higher-order-function twin of graft_cosine,
    * `VectorFunctions.cosine`) over checkpointed synthetic rows, minus the
    * same scan with a trivial expression; best of three. */
  def kernels(spark: SparkSession): Seq[Metric] = {
    import org.apache.spark.sql.functions.{col, expr, sum}
    import org.apache.spark.sql.{Column, DataFrame}
    val n = 200000L
    val vecs = spark.range(n)
      .selectExpr("transform(sequence(0, 63), i -> CAST(sin(id * 0.37 + i) AS FLOAT)) AS v")
      .localCheckpoint()
    val toks = spark.range(n / 4)
      .selectExpr("transform(sequence(0, 39), i -> concat('w', CAST((id * 31 + i * 17) % 97 AS STRING))) AS tokens")
      .localCheckpoint()
    def ns(df: DataFrame, rows: Long, c: Column): Double =
      (1 to 3).map(_ => Stats.timed(df.select(sum(c)).collect())._2).min * 1e9 / rows
    val q = expr("array_repeat(CAST(0.1 AS DOUBLE), 64)")
    val vecBase = ns(vecs, n, expr("size(v)"))
    val tokBase = ns(toks, n / 4, expr("size(tokens)"))
    val spec = "1000003,12345;999983,54321;999979,11111;1000033,77777"
    val out = Seq(
      Metric("kernel.graft_cosine_ns_row",
        ns(vecs, n, expr("graft_cosine(v, array_repeat(CAST(0.1 AS DOUBLE), 64))")) - vecBase, "ns"),
      Metric("kernel.hof_cosine_ns_row",
        ns(vecs, n, graft.functions.VectorFunctions.cosine(
          graft.functions.VectorFunctions.toDouble(col("v")), q)) - vecBase, "ns"),
      Metric("kernel.graft_minhash_ns_row",
        ns(toks, n / 4, expr(s"hash(graft_minhash(graft_word_fps(tokens), '$spec'))")) - tokBase, "ns"),
      Metric("kernel.graft_simhash_ns_row",
        ns(toks, n / 4, expr("hash(graft_simhash(graft_word_fps(tokens), 32))")) - tokBase, "ns"))
    vecs.unpersist(); toks.unpersist()
    out
  }

  /** Metrics over every measured span (set-up spans, whose names start
    * with `setup`, excluded). */
  def common(ctx: Ctx, pinnedMb: Double): Seq[Metric] = {
    val tr = ctx.trace
    val measured = tr.spanTable.filterNot(_._1.startsWith(s"${ctx.workload}:setup"))
    val gs = measured.flatMap(s => tr.group(s._1.stripPrefix(s"${ctx.workload}:")))
    def sum(f: tr.GroupStats => Long): Long = gs.map(f).sum
    val mb = 1048576.0
    val (cc, cns) = codegen
    Seq(
      Metric("spark.jobs", sum(_.jobs).toDouble, "count"),
      Metric("spark.stages", sum(_.stages).toDouble, "count"),
      Metric("spark.tasks", sum(_.tasks).toDouble, "count"),
      Metric("spark.task_s", sum(_.taskNs) / 1e9, "s"),
      Metric("spark.busy_s", tr.busyNs(gs) / 1e9, "s"),
      Metric("spark.input_mb", sum(_.inputB) / mb, "MB"),
      Metric("spark.shuffle_read_mb", sum(_.shufReadB) / mb, "MB"),
      Metric("spark.shuffle_write_mb", sum(_.shufWriteB) / mb, "MB"),
      Metric("spark.spill_mb", sum(_.spillB) / mb, "MB"),
      Metric("driver.gap_s", measured.map(_._5).sum / 1e9, "s"),
      Metric("codegen.compiles", (cc - codegen0._1).toDouble, "count"),
      Metric("codegen.compile_ms", (cns - codegen0._2) / 1e6, "ms"),
      Metric("jvm.gc_s", tr.gcSeconds, "s"),
      Metric("jvm.heap_peak_mb", tr.heapPeakB / mb, "MB"),
      Metric("storage.pinned_mb", pinnedMb, "MB"))
  }
}
