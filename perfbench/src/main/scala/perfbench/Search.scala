package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.operators.TableMerge
import graft.silver.SilverPipeline

/** `search_serving`: the chatbot's retrieval path as a closed loop with
  * one client in a warm session.
  *
  * The traffic follows the reference's one user endpoint, `/api/ask`
  * (chatbot_api.py:460-498): an ask runs the language-weighted hybrid
  * search and then the context filter and pack, that is
  * `search_hybrid_lang` followed by `search_rag_context` (via
  * `SparkEntry.queries`, each `collect()`ed), and its latency is the
  * sum. After every [[AsksPerRound]] asks the loop runs one secondary
  * op, taken in turn from a seeded permutation of [[Secondary]]: the
  * other registry search queries and `lookup`, a chunk fetch by a seeded
  * set of `resource_uid`s through `SELECT … FROM graft.`<silver chunks>`
  * WHERE resource_uid IN (…)` on the table set-up wrote. The reference
  * has no traffic for the secondary ops; their share is a choice, not a
  * measurement, made so that every op is timed in every run.
  *
  * Set-up is the silver load of the corpus into a fresh state root plus
  * [[WarmPasses]] warm-up passes over every op; `setup_s` is the load
  * plus the warm-up. Before set-up, the DuckDB twins of the
  * registry queries run over the same corpus ([[Oracle]]); every result,
  * warm-up and timed, must equal its twin's.
  */
object Search {

  /** The two queries of one `/api/ask`, in order. */
  val Ask: Seq[String] = Seq("search_hybrid_lang", "search_rag_context")
  val Secondary: Seq[String] = Seq("search_hybrid", "search_hybrid_rrf", "search_bm25",
    "sim_cosine_topk", "sim_hnsw_probed", "lookup")
  val AllKinds: Seq[String] = Ask ++ Secondary
  val Docs = 5000
  val Vectors = 2000
  val LookupKeys = 8
  val WarmPasses = 1
  val AsksPerRound = 2
  /** Timed rounds per run at least: one per secondary op, so that each
    * is timed in every run and every run's median comes from as many
    * asks (see [[Ingest.MinRefreshes]]). */
  val MinRounds: Int = Secondary.size

  private val chunkCfg = graft.chunk.Chunker.Config(400, 80, 60)

  /** Write the generated `documents` and `embeddings` tables; returns the
    * table directory the registry queries read. */
  def writeCorpus(spark: SparkSession, ctx: Ctx, docs: Vector[Gen.Doc], name: String = "corpus"): String = {
    import spark.implicits._
    val dir = ctx.dir(name)
    docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Gen.embeddings(Vectors).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.trace
    val docs = Gen.corpus(ctx.seed, Docs)
    val corpus = writeCorpus(spark, ctx, docs)
    val initial = Gen.initialLoad(docs)
    import spark.implicits._
    val bronzePath = ctx.dir("bronze/initial")
    spark.createDataset(initial).coalesce(1).write.mode("overwrite").json(bronzePath)
    val uidOf = initial.map(r => r.resource_id -> Gen.uid(r)).toMap
    // expected chunk count per resource, from the chunker run directly
    val chunksOf = initial.map(r => uidOf(r.resource_id) ->
      graft.chunk.Chunker.chunkDocumentRecord(uidOf(r.resource_id), s"asset_${r.resource_id}",
        r.language, Seq(1 -> r.text), chunkCfg)._1.size).toMap
    val ids = initial.map(_.resource_id).sorted
    val queries = graft.SparkEntry.queries

    val expected = Oracle.expected(ctx, corpus, AllKinds.filter(_ != "lookup"))
    val latMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val planMs = mutable.ArrayBuffer.empty[Double]
    var (filesPlanned, filesRead, lookupPlanMs) = (0L, 0L, 0.0)
    val cfg = SilverPipeline.Config(ctx.dir("state/silver/resources"), ctx.dir("state/silver/chunks"),
      chunkMax = chunkCfg.maxChars, chunkMin = chunkCfg.minChars, chunkOverlap = chunkCfg.overlapChars)
    val chunksPath = cfg.chunksPath
    val rnd = new Random(ctx.seed * 7919L + 17)

    /** One query, built and run inside its span; checks the result and
      * returns its seconds. `prefix` is "setup." during the warm-up. */
    def query(kind: String, prefix: String): Double = {
      val measured = prefix.isEmpty
      val keys = if (kind == "lookup") Seq.fill(LookupKeys)(uidOf(ids(rnd.nextInt(ids.size)))).distinct else Nil
      var df: DataFrame = null
      val (rows, t) = Stats.timed(tr.span(s"${prefix}search.$kind") {
        df = if (kind == "lookup")
          spark.sql(s"SELECT chunk_id, resource_uid, chunk_order, token_count FROM graft.`$chunksPath` " +
            s"WHERE resource_uid IN (${keys.map(k => s"'$k'").mkString(", ")})")
        else queries(kind)(spark, corpus)
        if (tr.enabled && measured) {
          val (_, pt) = Stats.timed(df.queryExecution.executedPlan)
          planMs += pt * 1000
          if (kind == "lookup") lookupPlanMs += pt * 1000
        }
        df.collect()
      })
      if (measured) latMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += t * 1000
      if (kind == "lookup") {
        val n = keys.map(chunksOf).sum
        ctx.check(rows.length == n && rows.forall(r => keys.contains(r.getString(1))),
          s"lookup of ${keys.size} resources returned ${rows.length} chunks, expected $n")
        if (tr.enabled && measured) {
          filesRead += df.queryExecution.executedPlan.collect { case s: FileSourceScanExec =>
            s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          }.sum
          filesPlanned += TableMerge.manifest(chunksPath).map(_.size).getOrElse(0)
        }
      } else {
        val got = Oracle.actual(df.columns.toSeq, rows)
        ctx.check(got == expected(kind) && got.rows > 0, s"$kind: ${prefix}result $got, oracle ${expected(kind)}")
      }
      t
    }

    /** One `/api/ask`: its two queries in order; returns seconds. */
    def ask(prefix: String): Double = tr.span(s"${prefix}ask")(Ask.map(query(_, prefix)).sum)

    val (_, loadS) = Stats.timed(tr.span("setup") {
      SilverPipeline.run(spark, spark.read.schema(Ingest.BronzeSchema).json(bronzePath), cfg)
    })
    val (_, warmS) = Stats.timed(tr.span("setup.warmup") {
      (1 to WarmPasses).foreach(_ => AllKinds.foreach(query(_, "setup.")))
    })

    Layers.markMeasured(ctx)
    val askMs = mutable.ArrayBuffer.empty[Double]
    var requests = 0L
    var order = Seq.empty[String]
    val loopS = ctx.loop(MinRounds) { i =>
      (1 to AsksPerRound).foreach(_ => askMs += ask("") * 1000)
      if (i % Secondary.size == 0) order = rnd.shuffle(Secondary)
      query(order(i % Secondary.size), "")
      requests += AsksPerRound + 1
    }

    val perKind = AllKinds.map(k => Metric(s"search.${k}_ms", Stats.median(latMs(k).toSeq), "ms"))
    val askP50 = Stats.median(askMs.toSeq)
    val (tailP, tailMs) = Stats.tail(askMs.toSeq)
    val setupS = loadS + warmS
    val named = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("search_p50_ms", askP50, "ms"),
      Metric(s"search_p95_ms(n=${askMs.size})", Stats.quantile(askMs.toSeq, 0.95), "ms"),
      Metric(s"search_tail_ms(p$tailP)", tailMs, "ms"),
      Metric("requests_per_s", requests / loopS, "1/s")) ++ perKind
    val layers = if (!tr.enabled) Nil else perKind ++ Seq(
      Metric("scan.plan_ms", lookupPlanMs / latMs("lookup").size, "ms"),
      Metric("scan.files_planned", filesPlanned.toDouble, "count"),
      Metric("scan.files_read", filesRead.toDouble, "count"),
      Metric("scan.skip_ratio", if (filesPlanned == 0) 0.0 else 1.0 - filesRead.toDouble / filesPlanned, "ratio"),
      Metric("driver.plan_ms", if (planMs.isEmpty) 0.0 else Stats.median(planMs.toSeq), "ms"))
    Outcome(
      endToEnd = Seq(Metric("setup_s", setupS, "s"), Metric("p50_ms", askP50, "ms"),
        Metric("work_per_s", requests / loopS, "1/s")),
      named = named, layers = layers,
      params = Seq("docs" -> Docs, "vectors" -> Vectors, "lookup_keys" -> LookupKeys,
        "warm_passes" -> WarmPasses, "asks_per_round" -> AsksPerRound,
        "min_rounds" -> MinRounds, "ask" -> Ask.mkString("+"), "secondary" -> Secondary.mkString(","),
        "loop" -> "closed, 1 client", "measured_s" -> loopS))
  }
}
