package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.gold.GoldAnalytics
import graft.operators.{ChangeDetector, TableMerge}
import graft.silver.SilverPipeline
import graft.sinks.BulkIndexer

/** `ingest_refresh`: the silver→gold refresh DAG as a closed loop, one
  * batch at a time (Airflow with `max_active_runs=1`).
  *
  * Set-up loads the 5,000 generated documents into a fresh state root
  * with `SilverPipeline.run`, then runs [[WarmRefreshes]] warm-up
  * refreshes on it; `setup_s` is the load plus the warm-up. Each timed
  * refresh then applies one seeded bronze batch — identical re-scrapes, content edits (some with
  * their stale previous record in the same batch) and new documents,
  * ~4% of the table changed — through `SilverPipeline.run`, rebuilds
  * the gold star with `GoldAnalytics.buildAll` persisted by
  * `TableMerge.createOrReplace`, and exports the changed chunks with
  * `BulkIndexer.writeBulkFiles`. Every [[MaintEvery]] refreshes it runs
  * SQL `OPTIMIZE`, `DESCRIBE HISTORY` and `VACUUM … RETAIN 0 HOURS` on
  * both silver tables.
  */
object Ingest {

  val Docs = 5000
  val Unchanged = 200
  val Edits = 120
  val Fresh = 80
  val MaintEvery = 3
  val WarmRefreshes = 3
  /** Timed refreshes per run at least, so every run's p50 comes from
    * the same number of samples at the same point of the JVM's warm-up. */
  val MinRefreshes = 6

  val BronzeSchema = StructType(Seq("resource_id", "source", "url", "title",
    "description", "language", "text", "scraped_at").map(StructField(_, StringType)))

  private def writeBronze(spark: SparkSession, recs: Seq[Gen.Rec], path: String): Unit = {
    import spark.implicits._
    spark.createDataset(recs).coalesce(1).write.mode("overwrite").json(path)
  }

  private def readBronze(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(BronzeSchema).json(path)

  private def cfg(root: String) = SilverPipeline.Config(
    s"$root/silver/resources", s"$root/silver/chunks",
    chunkMax = 400, chunkMin = 80, chunkOverlap = 60)

  private def walk(dir: String, keep: Path => Boolean): Seq[Path] = {
    val s = Files.walk(new File(dir).toPath)
    try s.filter(p => Files.isRegularFile(p) && keep(p)).toArray.map(_.asInstanceOf[Path]).toSeq
    finally s.close()
  }

  /** inode → size of the files under `dirs` (hard links count once). */
  private def inodes(dirs: Seq[String], keep: Path => Boolean = _.toString.endsWith(".parquet")): Map[AnyRef, Long] =
    dirs.flatMap(walk(_, keep)).map(p => Files.getAttribute(p, "unix:ino") -> Files.size(p)).toMap

  private def diskBytes(dirs: Seq[String]): Long = inodes(dirs, _ => true).values.sum

  private def liveFiles(table: String): Seq[Path] =
    TableMerge.liveVersion(table).toSeq.flatMap(v =>
      walk(new File(table, v).getPath, _.toString.endsWith(".parquet")))

  private def liveBytes(table: String): Long =
    TableMerge.manifest(table).map(_.map(_._2).sum).getOrElse(0L)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.trace
    val docs = Gen.corpus(ctx.seed, Docs)
    val initial = Gen.initialLoad(docs)
    writeBronze(spark, initial, ctx.dir("bronze/initial"))

    val c = cfg(ctx.dir("state"))
    val goldRoot = ctx.dir("state/gold")
    val (st, loadS) = Stats.timed(tr.span("setup") {
      SilverPipeline.run(spark, readBronze(spark, ctx.dir("bronze/initial")), c)
    })
    ctx.check(st.changed == Docs && st.deduped == Docs, s"initial load changed ${st.changed} of $Docs")
    val tables = Seq(c.resourcesPath, c.chunksPath)

    val model = mutable.Map.empty[String, Gen.Rec] ++ initial.map(r => r.resource_id -> r)
    val everChanged = mutable.Set.empty[String]
    var nextId = Docs.toLong
    val versions = mutable.Map(tables.map(_ -> 1L): _*)
    val refreshS = mutable.ArrayBuffer.empty[Double]
    var committedDocs = 0L
    var exportRows = 0L
    var exportS = 0.0
    val spaceAmp = mutable.ArrayBuffer.empty[Double]
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var chunkChars = 0L
    var writeAmpNum = 0.0
    var writeAmpDen = 0.0

    /** One refresh: batch `no` through silver, gold and export. The
      * warm-up refresh (`measured` false) runs under set-up span names
      * and adds no samples. */
    def refresh(no: Int, measured: Boolean): Unit = {
      val p = if (measured) "" else "setup."
      val b = Gen.batch(ctx.seed, no, model, nextId, Unchanged, Edits, Fresh)
      val path = ctx.dir(s"bronze/batch-$no")
      writeBronze(spark, b.rows, path)
      val bronze = readBronze(spark, path)
      val distinctIds = b.rows.map(_.resource_id).distinct.size

      if (measured && tr.enabled) {
        // cdc: the change classification SilverPipeline runs inside,
        // repeated from outside so its cost and its changed ratio show
        val (kinds, t) = Stats.timed(tr.span("cdc") {
          val deduped = SilverPipeline.dedupLatest(SilverPipeline.normalize(bronze))
          ChangeDetector.classify(deduped, TableMerge.read(spark, c.resourcesPath),
            Seq("resource_uid"), "record_fingerprint", "scraped_at")
            .groupBy("change_kind").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        })
        layer("cdc.s") += t
        layer("cdc.changed_ratio") = kinds.filter(_._1 != ChangeDetector.Unchanged).values.sum.toDouble /
          math.max(1L, kinds.values.sum)
        // chunk: the chunker alone over this batch's changed texts
        val texts = b.rows.filter(r => b.changedIds(r.resource_id)).map(r => (r.resource_id, r.language, r.text))
        val (_, ct) = Stats.timed(tr.span("chunk") {
          texts.foreach { case (id, lang, text) =>
            graft.chunk.Chunker.chunkDocumentRecord(id, s"asset_$id", lang, Seq(1 -> text),
              graft.chunk.Chunker.Config(c.chunkMax, c.chunkMin, c.chunkOverlap))
          }
        })
        layer("chunk.s") += ct
        chunkChars += texts.map(_._3.length.toLong).sum
      }

      val before = if (measured && tr.enabled) inodes(tables) else Map.empty[AnyRef, Long]
      val (stats, t) = Stats.timed(tr.span(p + "refresh") {
        val st = tr.span(p + "silver.run") { SilverPipeline.run(spark, bronze, c) }
        tr.span(p + "gold.build") {
          val resources = TableMerge.read(spark, c.resourcesPath)
          val chunks = TableMerge.read(spark, c.chunksPath)
          val (subjects, matches) = goldInputs(spark, resources)
          GoldAnalytics.buildAll(spark, resources, chunks, subjects, matches,
            resources.select(to_date(col("scraped_at")).as("dt")))
            .foreach { case (name, df) => TableMerge.createOrReplace(df, s"$goldRoot/$name") }
        }
        val (bulk, et) = Stats.timed(tr.span(p + "sink.export") {
          val uids = b.rows.filter(r => b.changedIds(r.resource_id)).map(Gen.uid).distinct
          import spark.implicits._
          BulkIndexer.writeBulkFiles(
            TableMerge.read(spark, c.chunksPath)
              .join(broadcast(uids.toDF("resource_uid")), Seq("resource_uid"), "left_semi"),
            "chunk_id", ctx.dir(s"export/batch-$no"))
        })
        if (measured) { exportRows += bulk.docs; exportS += et }
        ctx.check(bulk.docs >= b.changedIds.size,
          s"batch $no exported ${bulk.docs} chunks for ${b.changedIds.size} changed resources")
        st
      })
      if (measured) refreshS += t
      if (measured && tr.enabled) {
        // commit-path accounting: files the refresh wrote vs hard-linked
        // into the new live versions, and bytes written per changed byte
        val after = inodes(tables)
        val fresh = after.keySet -- before.keySet
        val live = tables.flatMap(liveFiles)
        val written = fresh.toSeq.map(after).sum
        layer("merge.files_written") += fresh.size
        layer("merge.files_linked") += live.count(p => before.contains(Files.getAttribute(p, "unix:ino")))
        layer("merge.bytes_written") += written
        val liveB = tables.map(liveBytes).sum.toDouble
        writeAmpNum += written; writeAmpDen += liveB * stats.changed / model.size
      }
      tables.foreach(versions(_) += 1)
      ctx.check(stats.bronzeRows == b.rows.size && stats.deduped == distinctIds &&
        stats.changed == b.changedIds.size,
        s"batch $no: silver run stats $stats, expected rows ${b.rows.size} deduped $distinctIds " +
          s"changed ${b.changedIds.size}")
      if (measured) committedDocs += stats.changed
      b.rows.foreach(r => if (model.get(r.resource_id).forall(_.scraped_at < r.scraped_at)) model(r.resource_id) = r)
      everChanged ++= b.changedIds
      nextId += Fresh

      if (measured && (no - 1) % MaintEvery == 0) tables.foreach { tbl =>
        val name = new File(tbl).getName
        val (nOpt, ot) = Stats.timed(tr.span("sql.optimize") {
          spark.sql(s"OPTIMIZE graft.`$tbl`").head().getLong(0)
        })
        if (nOpt > 0) versions(tbl) += 1
        val (hist, ht) = Stats.timed(tr.span("sql.history") {
          spark.sql(s"DESCRIBE HISTORY graft.`$tbl`").count()
        })
        ctx.check(hist == versions(tbl), s"$name history has $hist versions, expected ${versions(tbl)}")
        spaceAmp += diskBytes(Seq(tbl)).toDouble / liveBytes(tbl)
        layer("merge.versions_live") = math.max(layer("merge.versions_live"), hist.toDouble)
        val (nExp, vt) = Stats.timed(tr.span("sql.vacuum") {
          spark.sql(s"VACUUM graft.`$tbl` RETAIN 0 HOURS").head().getLong(0)
        })
        ctx.check(nExp == versions(tbl) - 1, s"$name VACUUM expired $nExp, expected ${versions(tbl) - 1}")
        versions(tbl) = 1L
        layer("sql.optimize_s") += ot; layer("sql.history_s") += ht; layer("sql.vacuum_s") += vt
      }
    }

    val (_, warmS) = Stats.timed((1 to WarmRefreshes).foreach(refresh(_, measured = false)))
    Layers.markMeasured(ctx)
    val loopS = ctx.loop(MinRefreshes)(i => refresh(WarmRefreshes + 1 + i, measured = true))
    if (spaceAmp.isEmpty) spaceAmp += diskBytes(tables).toDouble / tables.map(liveBytes).sum

    verify(ctx, c, goldRoot, model, everChanged, versions)

    println("[perfbench] refreshes_s " + refreshS.map(x => f"$x%.3f").mkString(" "))
    val refreshMs = refreshS.map(_ * 1000).toSeq
    val (tailP, tailMs) = Stats.tail(refreshMs)
    val refreshTotal = refreshS.sum
    val setupS = loadS + warmS
    val docsPerS = committedDocs / refreshTotal
    val named = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("refresh_p50_s", Stats.median(refreshMs) / 1000, "s"),
      Metric(s"refresh_tail_s(p$tailP)", tailMs / 1000, "s"),
      Metric("refreshes", refreshS.size.toDouble, "count"),
      Metric("ingest_docs_per_s", docsPerS, "1/s"),
      Metric("export_rows_per_s", exportRows / exportS, "1/s"),
      Metric("space_amp", Stats.median(spaceAmp.toSeq), "ratio"))
    layer("merge.write_amp") = writeAmpNum / math.max(1.0, writeAmpDen)
    val layers = if (!tr.enabled) Nil else commitLayers(ctx, c, layer.toMap, chunkChars)
    Outcome(
      endToEnd = Seq(Metric("setup_s", setupS, "s"), Metric("p50_ms", Stats.median(refreshMs), "ms"),
        Metric("work_per_s", docsPerS, "1/s")),
      named = named, layers = layers,
      params = Seq("docs" -> Docs, "batch_unchanged" -> Unchanged, "batch_edits" -> Edits,
        "batch_new" -> Fresh, "maintenance_every" -> MaintEvery,
        "warm_refreshes" -> WarmRefreshes, "min_refreshes" -> MinRefreshes,
        "chunk_max" -> c.chunkMax, "chunk_min" -> c.chunkMin, "chunk_overlap" -> c.chunkOverlap,
        "loop" -> "closed, 1 client", "measured_s" -> loopS))
  }

  /** Fixed subjects and title-rule matches for the gold star (the same
    * rule the registry's `e2e_silver_gold` uses). */
  private def goldInputs(spark: SparkSession, resources: DataFrame): (DataFrame, DataFrame) = {
    import spark.implicits._
    val subjects = Seq((1, "query table"), (2, "stream batch")).toDF("subject_id", "subject_name")
    val matches = resources.select(col("resource_uid"), col("title"))
      .withColumn("subject_id", when(col("title").contains("table"), 1).when(col("title").contains("stream"), 2))
      .filter(col("subject_id").isNotNull)
      .withColumn("similarity", lit(0.9))
    (subjects, matches)
  }

  private def commitLayers(ctx: Ctx, c: SilverPipeline.Config, layer: Map[String, Double],
                           chunkChars: Long): Seq[Metric] = {
    val tr = ctx.trace
    def spanS(op: String): Double =
      tr.spanTable.find(_._1 == s"${ctx.workload}:$op").map(_._3 / 1e9).getOrElse(0.0)
    Seq(
      Metric("merge.upsert_s", tr.sampled("merge.upsert") / 1e9, "s"),
      Metric("merge.replace_keys_s", tr.sampled("merge.replace_keys") / 1e9, "s"),
      Metric("merge.create_s", tr.sampled("merge.create") / 1e9, "s"),
      Metric("merge.files_written", layer.getOrElse("merge.files_written", 0.0), "count"),
      Metric("merge.files_linked", layer.getOrElse("merge.files_linked", 0.0), "count"),
      Metric("merge.bytes_written", layer.getOrElse("merge.bytes_written", 0.0) / 1048576.0, "MB"),
      Metric("merge.write_amp", layer.getOrElse("merge.write_amp", 0.0), "ratio"),
      Metric("merge.versions_live", layer.getOrElse("merge.versions_live", 0.0), "count"),
      Metric("merge.manifest_entries",
        Seq(c.resourcesPath, c.chunksPath).map(t => TableMerge.manifest(t).map(_.size).getOrElse(0)).sum.toDouble, "count"),
      Metric("cdc.s", layer.getOrElse("cdc.s", 0.0), "s"),
      Metric("cdc.changed_ratio", layer.getOrElse("cdc.changed_ratio", 0.0), "ratio"),
      Metric("silver.run_s", spanS("silver.run"), "s"),
      Metric("chunk.ns_per_char", layer.getOrElse("chunk.s", 0.0) * 1e9 / math.max(1L, chunkChars), "ns"),
      Metric("gold.build_s", spanS("gold.build"), "s"),
      Metric("sink.export_s", spanS("sink.export"), "s"),
      Metric("sql.optimize_s", layer.getOrElse("sql.optimize_s", 0.0), "s"),
      Metric("sql.vacuum_s", layer.getOrElse("sql.vacuum_s", 0.0), "s"),
      Metric("sql.history_s", layer.getOrElse("sql.history_s", 0.0), "s"))
  }

  /** End-of-run checks in a fresh session: the silver tables against the
    * last-writer-wins model, chunk coverage, history length, gold size. */
  private def verify(ctx: Ctx, c: SilverPipeline.Config, goldRoot: String,
                     model: collection.Map[String, Gen.Rec], everChanged: collection.Set[String],
                     versions: collection.Map[String, Long]): Unit = {
    val s = ctx.spark.newSession()
    val rows = TableMerge.read(s, c.resourcesPath)
      .selectExpr("resource_id", "resource_uid", "source_system", "title", "description", "url",
        "language", "text", "date_format(scraped_at, 'yyyy-MM-dd HH:mm:ss')")
      .collect().map(_.toSeq.map(String.valueOf)).toSeq
    val expected = model.values.toSeq.map { r =>
      val src = r.source.toLowerCase
      Seq(r.resource_id, Gen.uid(r), src, r.title, r.description,
        r.url, r.language, r.text, r.scraped_at)
    }
    ctx.check(rows.size == expected.size && Stats.setHash(rows) == Stats.setHash(expected),
      s"silver resources: ${rows.size} rows, hash ${Stats.setHash(rows)}; model ${expected.size} rows, " +
        s"hash ${Stats.setHash(expected)}")
    val uidOf = expected.map(r => r.head -> r(1)).toMap
    val chunkUids = TableMerge.read(s, c.chunksPath).groupBy("resource_uid").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val orphans = chunkUids.keySet -- uidOf.values
    ctx.check(orphans.isEmpty, s"${orphans.size} orphaned chunk resource_uids")
    val bare = everChanged.count(id => !chunkUids.contains(uidOf(id)))
    ctx.check(bare == 0, s"$bare changed resources have no chunk")
    Seq(c.resourcesPath, c.chunksPath).foreach { t =>
      val n = s.sql(s"DESCRIBE HISTORY graft.`$t`").count()
      ctx.check(n == versions(t), s"${new File(t).getName} history $n versions, expected ${versions(t)}")
    }
    val dimN = TableMerge.read(s, s"$goldRoot/dim_resources").count()
    ctx.check(dimN == model.size, s"gold dim_resources has $dimN rows, expected ${model.size}")
  }
}
