package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (scripts/check_oracle.py).
  * Named queries restrict the dump, and the oracle file, to those queries.
  * Usage: runMain graft.Verify <sfDir> <outDir> [query ...] */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.toSeq.drop(2)
    val (queries, oracles) = select(SparkEntry.queries, SparkEntry.oracleSql, names)
    // a requested query without an oracle dumps fine but can't be
    // compared — say so loudly, or check_oracle.py's "0 pass / 0 fail"
    // on an all-no-oracle dump reads as green when nothing was checked
    names.filterNot(oracles.contains).foreach(n =>
      System.err.println(s"[verify] WARNING: $n has no oracle entry — " +
        "the dump is written but check_oracle.py will not compare it"))
    val spark = GraftSession.get()
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleJson(oracles, s"$outDir/oracle_sql.json")
    spark.stop()
  }

  /** The queries to dump and the oracle entries to write: all of both when
    * `names` is empty, else only the named ones. Every name must be a
    * query. */
  private[graft] def select[Q](queries: Map[String, Q], oracles: Map[String, String],
      names: Seq[String]): (Map[String, Q], Map[String, String]) = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) (queries, oracles)
    else {
      val keep = names.toSet
      (queries.view.filterKeys(keep).toMap, oracles.view.filterKeys(keep).toMap)
    }
  }

  /** Dump an oracle-SQL map as the JSON file check_oracle.py expects.
    * JSON string escape covers backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round's
    * correctness. */
  private[graft] def writeOracleJson(sqls: Map[String, String], path: String): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = sqls.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(path), json)
  }
}
