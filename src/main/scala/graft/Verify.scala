package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.tools.Session.local(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // dedup/ANN pipelines persist small signature projections; drop
      // them between queries so 73 runs don't accumulate executor storage
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Verify.oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * Shared with the VerifyOne pre-flight tool so the two can't drift. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    // non-ASCII → \u escapes: the file stays pure ASCII, so a reader
    // that forgets encoding= (locale-dependent Python open()) still works
    case c if c > '~' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def oracleJson(oracles: Map[String, String]): String =
    oracles.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
}
