package perfbench

import scala.util.Random

/** Seeded input generation. Everything the engine reads is made here
  * from the `--seed` argument, so the same seed gives the same corpus,
  * the same bronze batches and the same search mix.
  *
  * The one exception is the vector table, which is the same for every
  * seed: the DuckDB twins of the HNSW queries take about a minute on it,
  * longer than a run, so their reference results are computed once and
  * committed under `perfbench/expected/` (see `oracle.py`).
  *
  * The corpus has the shape and statistics of the sf0.1 `documents` and
  * `embeddings` tables (5,000 docs of 10–100 words over a 30-word
  * vocabulary, 2,000 unit-norm 64-d vectors in 10 clusters), plus ~5%
  * near-duplicates so the dedup families find pairs.
  */
object Gen {

  val Vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "en", "en", "en", "zh", "es", "fr", "de")

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** A bronze record in the scraper's shape (the silver pipeline's input). */
  final case class Rec(resource_id: String, source: String, url: String,
                       title: String, description: String, language: String,
                       text: String, scraped_at: String)

  /** The silver `resource_uid` of a bronze record: sha256 of
    * `lower(source)||resource_id`, computed independently of the engine. */
  def uid(r: Rec): String = Stats.sha256Hex(s"${r.source.toLowerCase}||${r.resource_id}")

  def words(rnd: Random, n: Int): Seq[String] = Seq.fill(n)(Vocab(rnd.nextInt(Vocab.length)))

  def corpus(seed: Long, nDocs: Int): Vector[Doc] = {
    val rnd = new Random(seed)
    val texts = new Array[String](nDocs)
    (0 until nDocs).map { i =>
      texts(i) =
        if (i > 20 && rnd.nextDouble() < 0.05) {
          // near-duplicate: an earlier doc with one token swapped
          val toks = texts(rnd.nextInt(i)).split(' ')
          toks(rnd.nextInt(toks.length)) = "dup"
          toks.mkString(" ")
        } else words(rnd, 10 + rnd.nextInt(91)).mkString(" ")
      Doc(i.toLong, texts(i), Langs(rnd.nextInt(Langs.length)), s"src${i % 20}")
    }.toVector
  }

  /** (vec_id, unit-norm embedding, cluster label); seed-independent. */
  def embeddings(n: Int, dim: Int = 64, k: Int = 10): Vector[(Long, Array[Float], Int)] = {
    val rnd = new Random(0x5eedL)
    def unit(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum); v.map(_ / norm)
    }
    val centroids = Array.fill(k)(unit(Array.fill(dim)(rnd.nextGaussian())))
    (0 until n).map { i =>
      val label = rnd.nextInt(k)
      val v = unit(centroids(label).map(_ + 0.35 * rnd.nextGaussian()))
      (i.toLong, v.map(_.toFloat), label)
    }.toVector
  }

  private val BaseTs = java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
  private val TsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def record(id: Long, source: String, lang: String, text: String, version: Int): Rec = {
    val toks = text.split(' ')
    Rec(id.toString, source, s"https://oer.example/$id", toks.take(4).mkString(" "),
      text.take(120), lang, text, BaseTs.plusHours(version.toLong).format(TsFmt))
  }

  def initialLoad(docs: Vector[Doc]): Vector[Rec] =
    docs.map(d => record(d.docId, d.source, d.lang, d.text, 0))

  final case class Batch(rows: Vector[Rec], changedIds: Set[String])

  /** One incremental bronze batch against the current last-writer-wins
    * `model` (resource_id → record). Mix: `unchanged` identical
    * re-scrapes, `edits` content edits (new title/description/text and a
    * newer scrape time; every tenth also ships its stale previous
    * record, which the latest-wins dedup must drop) and `fresh` new
    * documents. Returns the batch and the ids it changes or adds. */
  def batch(seed: Long, no: Int, model: collection.Map[String, Rec], nextId: Long,
            unchanged: Int, edits: Int, fresh: Int): Batch = {
    val rnd = new Random(seed * 1000003L + no)
    val ids = rnd.shuffle(model.keys.toVector.sorted).take(unchanged + edits)
    val (same, edited) = ids.splitAt(unchanged)
    val sameRows = same.map(model)
    val editRows = edited.zipWithIndex.flatMap { case (id, i) =>
      val old = model(id)
      val toks = old.text.split(' ')
      val head = words(rnd, 4)
      val text = (head ++ toks.drop(4)).mkString(" ") + " " + words(rnd, 1 + rnd.nextInt(8)).mkString(" ")
      val updated = record(id.toLong, old.source, old.language, text, no)
      if (i % 10 == 0) Seq(old, updated) else Seq(updated)
    }
    val freshRows = (0 until fresh).map { i =>
      val id = nextId + i
      record(id, s"src${id % 20}", Langs(rnd.nextInt(Langs.length)),
        words(rnd, 10 + rnd.nextInt(91)).mkString(" "), no)
    }
    Batch(rnd.shuffle(sameRows ++ editRows ++ freshRows),
      (edited ++ freshRows.map(_.resource_id)).toSet)
  }
}
