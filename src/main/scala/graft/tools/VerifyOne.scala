package graft.tools
/** Dump a subset of queries for local oracle pre-flight.
  * args: sfDir outDir names... Env: SPARK_GRAFT_CPUS (8),
  * SPARK_GRAFT_SHUFFLE (8), as for TimeOne and PlanDump. */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2)
    val spark = Session.fromEnv.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val noOracle = names.filterNot(graft.SparkEntry.oracleSql.contains)
    require(noOracle.isEmpty,
      s"no oracleSql entry for: ${noOracle.mkString(", ")} — the pre-flight would silently skip them")
    names.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      spark.catalog.clearCache()
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      graft.Verify.oracleJson(graft.SparkEntry.oracleSql.filter(kv => names.contains(kv._1))))
    spark.stop()
  }
}
