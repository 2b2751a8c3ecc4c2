package lakebench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.streaming.EventsStream

/** The lake's streaming ingest channel: `AvailableNow` runs of a
  * watermarked dedup stream into the delta sink, one staged events file
  * per trigger. Each run stages the next `FilesPerRun` files and consumes
  * them, as a scheduled incremental ingest does. Every file replays a
  * block of the previous file's rows, so dedup state and the sink's
  * anti-join both matter. */
final class StreamIngest(ctx: Ctx) {
  import StreamIngest._
  private val spark = ctx.spark
  private val seed = ctx.seed
  private val parts = spark.sparkContext.defaultParallelism
  private val (fileRows, replayRows, stagedFiles) =
    if (ctx.smoke) (1000L, 200L, 12) else (5000L, 1000L, 16)

  private var staging: Path = _
  private var source: Path = _
  private var sink: String = _
  private var checkpoint: String = _
  private var consumed = 0
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var phaseFrom = 0

  def setup(dir: Path): Unit = {
    staging = dir.resolve("staging"); source = dir.resolve("source")
    sink = dir.resolve("sink").toString; checkpoint = dir.resolve("checkpoint").toString
    Files.createDirectories(source)
    // file k holds ids [k·step, k·step + fileRows): one hour of new events
    // plus the first `replayRows` ids of file k+1's hour, so the next file
    // replays them; ts grows with the id, so no new row is ever behind the
    // watermark. One write job stages every file.
    val step = fileRows - replayRows
    val all = Gen.events(spark, seed, 0, stagedFiles * step + replayRows, 0, parts)
      .withColumn("ts", timestamp_seconds(lit(Gen.BaseEpoch) + col("event_id") * 3600L / step))
      .drop("day")
    val own = all.withColumn("file", floor(col("event_id") / step))
    val replay = all.filter(col("event_id") >= step && pmod(col("event_id"), lit(step)) < replayRows)
      .withColumn("file", floor(col("event_id") / step) - 1)
    own.unionByName(replay).filter(col("file") < stagedFiles)
      .repartition(col("file")).write.partitionBy("file").parquet(staging.toString)
  }

  def startPhase(): Unit = phaseFrom = progress.size

  /** Stage the next files, then one `AvailableNow` run over them. */
  def runOnce(): Boolean = {
    require(consumed + FilesPerRun <= stagedFiles, "stream ingest ran out of staged files")
    ctx.span("bench.stage") {
      (consumed until consumed + FilesPerRun).foreach { k =>
        val dir = staging.resolve(s"file=$k")
        val part = Files.list(dir).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
        Files.move(part, source.resolve(f"f$k%04d.parquet"))
      }
    }
    consumed += FilesPerRun
    val q = ctx.span("streaming.run") {
      val q = EventsStream.startDeltaSink(
        EventsStream.dedupStream(EventsStream.readEvents(spark, source.toString)), sink, checkpoint)
      q.awaitTermination()
      q
    }
    progress ++= q.recentProgress
    q.exception.isEmpty
  }

  def verify(checks: Checks): Unit = {
    // reference: the batch delta of every consumed file, read plainly
    val files = (0 until consumed).map(k => source.resolve(f"f$k%04d.parquet").toString)
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props").map(col)
    def summary(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), Gen.checksum(col("event_id"), col("value"))).head()
    val want = summary(spark.read.parquet(files: _*).select(cols: _*).distinct())
    val got = summary(spark.read.parquet(sink).select(cols: _*))
    checks.expect("stream_ingest.rows", want.getLong(0), got.getLong(0))
    checks.expect("stream_ingest.checksum", want.getLong(1), got.getLong(1))
  }

  def sizes: Map[String, Long] = Map("stream_file_rows" -> fileRows, "stream_replay_rows" -> replayRows,
    "stream_files_per_run" -> FilesPerRun.toLong)

  private def phaseProgress = progress.drop(phaseFrom).toSeq
  private def dataBatches = phaseProgress.filter(_.numInputRows > 0)
  def rows: Long = dataBatches.map(_.numInputRows).sum

  /** `busySeconds`: time spent in stream runs. */
  def named(busySeconds: Double): Seq[(String, Double, String, Int)] = {
    val batch = dataBatches.map(_.batchDuration / 1000.0)
    Seq(
      ("stream_rows_per_s", rows / busySeconds, "rows/s", batch.size),
      ("microbatch_p50_s", Stats.median(batch), "s", batch.size),
      ("microbatch_p90_s", Stats.quantile(batch, 0.9), "s", batch.size))
  }

  def layer: Map[String, Double] = {
    val ps = phaseProgress
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
    def total(keys: String*): Double = ps.map(p => keys.map(dur(p, _)).sum).sum
    val all = ps.map(_.batchDuration / 1000.0).sum
    Map(
      "streaming.batch_s" -> all,
      "streaming.addbatch_s" -> total("addBatch"),
      "streaming.orchestration_s" -> (all - total("addBatch")),
      "streaming.planning_s" -> total("queryPlanning"),
      "streaming.offsets_s" -> total("latestOffset", "getBatch"),
      "streaming.wal_commit_s" -> total("walCommit", "commitOffsets"),
      "streaming.state_commit_s" -> ps.map(_.stateOperators.map(_.commitTimeMs).sum / 1000.0).sum,
      "streaming.state_rows" -> ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "streaming.batches" -> ps.size.toDouble)
  }
}

object StreamIngest {
  val FilesPerRun = 2
  val LayerKeys = Seq("streaming.batch_s", "streaming.addbatch_s", "streaming.orchestration_s",
    "streaming.planning_s", "streaming.offsets_s", "streaming.wal_commit_s",
    "streaming.state_commit_s", "streaming.state_rows", "streaming.batches")
}
