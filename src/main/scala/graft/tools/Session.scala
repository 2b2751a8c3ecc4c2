package graft.tools

import org.apache.spark.sql.SparkSession

/** The one local-session builder behind every graft main (the driver
  * contract's `Verify`/`Bench` and the tools here): `local[cpus]`,
  * `shuffle` shuffle partitions, and the conf every timing main shares.
  * Callers add their own settings on the returned builder before
  * `getOrCreate()`. */
object Session {
  def local(cpus: String, shuffle: String, appName: String = ""): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      // INT96 (the deprecated default) writes NO comparable column
      // stats — footer row-group skipping and the file-stats index
      // are blind to timestamps without this
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    if (appName.isEmpty) b else b.appName(appName)
  }

  /** `SPARK_GRAFT_CPUS` / `SPARK_GRAFT_SHUFFLE`, each defaulting to 8 —
    * the isolated lane's protocol, shared by the single-key tools so
    * their sessions match the runs they reproduce. */
  def fromEnv: SparkSession.Builder =
    local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8"))
}
