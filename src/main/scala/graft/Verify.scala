package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare. Exits 1 when any
  * query fails, after dumping the rest. */
object Verify {

  /** Write each query's result to `outDir/<name>` as parquet. A failing
    * query is reported and skipped so the rest still dump; returns the
    * names of the queries that failed.
    */
  private[graft] def dumpQueries(
      spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[String] =
    queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)       => (s, o, None)
      case Array(s, o, pref) => (s, o, Some(pref))
    }
    val spark = GraftSession.local("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // arg 3: comma-separated name PREFIXES (one prefix = the classic
    // single-query form; a list drives the synth-ladder subset gates).
    val prefixes = only.map(_.split(",").map(_.trim).filter(_.nonEmpty))
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => prefixes.forall(_.exists(name.startsWith)) }
    val failed = dumpQueries(spark, sfDir, outDir, selected)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} of ${selected.size} " +
        s"queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
