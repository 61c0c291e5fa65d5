package perfbench

import scala.collection.mutable

/** The LLM-curation roster, run at the end of every traced run as a
  * layer probe (like the kernel microbenchmarks), after the workload's
  * own metrics are taken.
  *
  * The roster is one registry family per layer the curation batch job
  * exercises: a banded pair join over `graft_minhash` signatures
  * (`dedup_minhash_pairs`), IVF-PQ top-k per query (`sim_ivfpq_topk`,
  * `TopKPerKey`), HNSW batch search over a memoized graph with its beam
  * walks under `Par` (`sim_hnsw_batch`), a Kneser-Ney language model and
  * BPE tokenization over the shared tokenized corpus (`text_kn_logprob`,
  * `text_bpe_tokens`). It writes the generated corpus tables, then runs
  * the roster once cold (its session memo entries are not built yet) and
  * once warm in the same session. The warm pass must reproduce the cold
  * pass's output hashes, and the cold pass must equal the families'
  * DuckDB twins ([[Oracle]]), except `text_bpe_tokens`: its twin takes
  * ~17 s on the seeded documents, too long to run per seed.
  */
object Curation {

  val Roster: Seq[String] = Seq(
    "dedup_minhash_pairs", "sim_ivfpq_topk", "sim_hnsw_batch", "text_kn_logprob", "text_bpe_tokens")

  /** The probe's per-layer metrics: each family's warm time and the
    * roster's cold and warm pass times. */
  def probe(ctx: Ctx): Seq[Metric] = {
    val spark = ctx.spark
    val corpus = Search.writeCorpus(spark, ctx, Gen.corpus(ctx.seed, Search.Docs), "curation-corpus")
    val expected = Oracle.expected(ctx, corpus, Roster.filter(_ != "text_bpe_tokens"))
    val queries = graft.SparkEntry.queries
    val familyS = mutable.Map.empty[String, Double]
    val coldHash = mutable.Map.empty[String, Long]

    def pass(warm: Boolean): Double = Stats.timed(Roster.foreach { q =>
      var cols = Seq.empty[String]
      val (rows, t) = Stats.timed(ctx.trace.span(s"probe.curation.$q") {
        val df = queries(q)(spark, corpus)
        cols = df.columns.toSeq
        df.collect()
      })
      val got = Oracle.actual(cols, rows)
      if (!warm) {
        coldHash(q) = got.hash
        expected.get(q).foreach(want =>
          ctx.check(got == want && got.rows > 0, s"$q cold pass: result $got, oracle $want"))
      } else {
        familyS(q) = t
        ctx.check(got.hash == coldHash(q), s"$q warm pass: result $got, cold-pass hash ${coldHash(q)}")
      }
    })._2

    val coldS = pass(warm = false)
    val warmS = pass(warm = true)
    Roster.map(q => Metric(s"curation.${q}_s", familyS(q), "s")) ++ Seq(
      Metric("curation.cold_s", coldS, "s"), Metric("curation.warm_s", warmS, "s"))
  }
}
