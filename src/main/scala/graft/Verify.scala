package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: 2 args. Optional 3rd (name regex) for local
    // per-query iteration; oracle_sql.json is always written in full.
    val (sfDir, outDir, pat) = args match {
      case Array(a, b) => (a, b, ".*")
      case Array(a, b, p) => (a, b, p)
    }
    val spark = Sessions.benchBuilder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(_._1.matches(pat)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release each query's persisted intermediates (see Bench: queries
      // persist() multi-referenced inputs and leave release to the caller)
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** The one JSON string escaper: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in a query's SQL would otherwise make the
    * oracle compare's json.load fail and silently zero the correctness
    * check.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
