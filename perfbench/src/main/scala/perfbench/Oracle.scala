package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

/** Expected query results from an independent engine.
  *
  * Every registry query has a DuckDB twin (`SparkEntry.oracleSql`).
  * [[expected]] runs those twins over the run's generated tables with
  * `oracle.py` before anything is timed, so each timed result is
  * checked against a result pinned for its query, corpus and seed that
  * the engine under test did not produce. Both sides render a row in
  * the same canonical text form (columns sorted by name, doubles as
  * `%.9e`), and rows compare as an order-independent multiset hash.
  */
object Oracle {

  private val Sep = "\u001f"

  /** Column names (sorted), row count and row-set hash of one result. */
  final case class Result(columns: Seq[String], rows: Int, hash: Long) {
    override def toString: String = s"$rows rows [${columns.mkString(",")}] hash $hash"
  }

  def expected(ctx: Ctx, tables: String, kinds: Seq[String]): Map[String, Result] = {
    val sql = graft.SparkEntry.oracleSql
    val missing = kinds.filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")
    val queries = new File(ctx.work, "oracle-queries.json")
    Files.writeString(queries.toPath, Json.obj(kinds.map(k => k -> sql(k))))
    val out = new File(ctx.work, "oracle")
    val log = new File(ctx.work, "oracle.log")
    val script = sys.env.getOrElse("PERFBENCH_ORACLE", sys.error("PERFBENCH_ORACLE is not set"))
    val python = sys.env.getOrElse("PERFBENCH_PYTHON", "python3")
    val p = new ProcessBuilder(python, script, tables, queries.getPath, out.getPath)
      .redirectErrorStream(true).redirectOutput(log).start()
    if (!p.waitFor(120, TimeUnit.SECONDS)) {
      p.destroyForcibly().waitFor()
      sys.error("oracle.py did not finish within 120 s")
    }
    require(p.exitValue == 0, s"oracle.py failed (exit ${p.exitValue}):\n${Files.readString(log.toPath)}")
    kinds.map { k =>
      val lines = Files.readAllLines(new File(out, s"$k.rows").toPath, UTF_8).asScala.toSeq
      k -> Result(lines.head.split(Sep, -1).toSeq, lines.size - 1,
        Stats.setHash(lines.tail.map(_.split(Sep, -1).toSeq)))
    }.toMap
  }

  /** The canonical text of one value (the same rules as `oracle.py`). */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case d: Double => "%.9e".formatLocal(java.util.Locale.ROOT, d)
    case f: Float => canon(f.toDouble)
    case d: java.math.BigDecimal => canon(d.doubleValue)
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  /** The same summary of a Spark result. */
  def actual(columns: Seq[String], rows: Array[Row]): Result = {
    val order = columns.indices.sortBy(columns)
    Result(order.map(columns), rows.length, Stats.setHash(rows.map(r => order.map(i => canon(r.get(i))))))
  }
}
