package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for targeted iteration (same
    // contract as Bench); the driver leaves it unset → full run. The
    // oracle dump narrows with it so check.py compares exactly the
    // dumped set.
    val queries = SparkEntry.selectedQueries()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
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
    val json = SparkEntry.oracleSql.filter(e => queries.contains(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // registry size marker (separate file — the driver parses
    // oracle_sql.json as a flat map, so its shape must not change):
    // lets check.py tell a FULL dump from a SPARK_GRAFT_ONLY subset
    // without trusting its own environment
    Files.writeString(Paths.get(s"$outDir/registry_size.txt"),
      SparkEntry.queries.size.toString)
    spark.stop()
  }
}
