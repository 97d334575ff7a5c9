package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional: further args name specific queries (rehearsal-tier spot
    // checks where a full-surface dump would be wasteful); default is all
    val selected =
      if (args.length > 2) {
        val names = args.drop(2).toSet
        val unknown = names -- SparkEntry.queries.keySet
        // a typo'd name would otherwise run NOTHING and exit 0 — the
        // spot-check would vacuously pass without executing the operator
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
        SparkEntry.queries.view.filterKeys(names).toMap
      } else SparkEntry.queries
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      System.gc()
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
