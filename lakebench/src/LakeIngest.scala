package lakebench

import java.time.Instant
import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.ds.{DatasetLock, DatasetWriter, GraftDataset, Repartition, WriteMode}
import graft.meta.TimeFly

/** The lake's write path. Keyed delta commits of seeded `events` slices
  * into a day-partitioned, TimeFly-managed dataset, each slice replaying
  * a block of rows already written; every third commit a keyed upsert
  * followed by a manifest snapshot and a read-back aggregate; and after
  * every sixth commit an `AvailableNow` run of the streaming channel
  * ([[StreamIngest]]). The timed phase runs steps of this fixed sequence
  * until its deadline; one compaction closes it. Every commit changes the
  * file listing, so each read-back starts cold: the dataset outgrows the
  * program's listing-keyed caches. */
final class LakeIngest(ctx: Ctx) extends Workload {
  import LakeIngest._
  private val spark = ctx.spark
  private val seed = ctx.seed
  private val (baseRows, newRows, replayRows, upsertRows) =
    if (ctx.smoke) (20000L, 1500L, 500L, 1000L) else (50000L, 7500L, 2500L, 5000L)
  private val stream = new StreamIngest(ctx)

  /** Ground truth of one commit: ids [newLo, newHi) inserted and ids
    * [updLo, updHi) rewritten, at payload `version`. */
  private case class Commit(newLo: Long, newHi: Long, updLo: Long, updHi: Long, version: Int)

  private var tf: TimeFly = _
  private var ds: GraftDataset = _
  private var root: java.nio.file.Path = _
  private var next = 0L
  private var clock = 0L
  private val commits = mutable.ArrayBuffer.empty[Commit]
  private var bytesAtSetup = 0L
  private var bytesAtPhase = 0L
  private var bytesAtPhaseEnd = 0L
  private val tally = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var lock0 = DatasetLock.LockStats()

  private def writer(mode: WriteMode) =
    DatasetWriter(ds, mode).withDeltaSubset("event_id").withBloomIndex

  private def rnd(salt: Int): scala.util.Random = new scala.util.Random(seed * 7919 + salt)

  /** Bytes written by `body` through the engine's filesystem layer. */
  private def written[T](key: String)(body: => T): T = {
    val b0 = Fs.hadoopBytesWritten()
    try body finally tally(key) += Fs.hadoopBytesWritten() - b0
  }

  def setup(dir: java.nio.file.Path): Unit = {
    bytesAtSetup = Fs.hadoopBytesWritten()
    root = dir.resolve("events")
    tf = new TimeFly(spark, root.toString)
    tf.init("events")
    ds = GraftDataset(tf.currentPath.toString, partitioning = Seq("day"))
    clock = Gen.BaseEpoch + Gen.Days * 86400L
    writer(WriteMode.Delta).write(spark, Gen.events(spark, seed, 0, baseRows, 0, 1))
    commits += Commit(0, baseRows, 0, 0, 0)
    next = baseRows
    stream.setup(dir.resolve("stream"))
  }

  /** Every op kind the lake build has not run yet once: an upsert with
    * its snapshot and read-back, and a stream run. */
  def warmUp(): Unit = { step(0, warm = true); stream.runOnce() }

  def run(): Unit = {
    tally.clear()
    stream.startPhase()
    bytesAtPhase = Fs.hadoopBytesWritten()
    lock0 = DatasetLock.statsFor(new Path(ds.path))
    var i = 0
    while (ctx.timeLeft || i < Period) { step(i, warm = false); i += 1 }
    ctx.op("compact")(compact())
    bytesAtPhaseEnd = Fs.hadoopBytesWritten()
  }

  /** Step `i` of the sequence: one commit (an upsert on every `Period`-th,
    * followed by a snapshot and its read-back, a delta otherwise) and, on
    * the last step of every other period from the first, a stream run.
    * The phase runs at least one whole period, so it holds every op kind. */
  private def step(i: Int, warm: Boolean): Unit = {
    def op(kind: String)(body: => Boolean): Unit = if (warm) body else ctx.op(kind)(body)
    if (i % Period == 0) {
      op("commit.upsert")(upsertCommit())
      op("snapshot")(snapshot())
      op("readback")(readback())
    } else op("commit.delta")(deltaCommit())
    if (i % (2 * Period) == Period - 1) op("stream_run")(stream.runOnce())
  }

  private def deltaCommit(): Boolean = {
    val o = (rnd(commits.size).nextDouble() * (next - replayRows)).toLong
    val slice = Gen.events(spark, seed, next, next + newRows, 0, 1)
      .unionByName(Gen.events(spark, seed, o, o + replayRows, 0, 1))
    val n = ctx.span("ds.write")(writer(WriteMode.Delta).write(spark, slice))
    commits += Commit(next, next + newRows, 0, 0, 0)
    next += newRows
    tally("offered") += newRows + replayRows
    tally("delta_offered") += newRows + replayRows
    tally("delta_committed") += n
    n == newRows
  }

  /** Half the batch rewrites a block of existing keys, half inserts. */
  private def upsertCommit(): Boolean = {
    val v = commits.size
    val nUpd = upsertRows / 2
    val o = (rnd(commits.size).nextDouble() * (next - nUpd)).toLong
    val batch = Gen.events(spark, seed, o, o + nUpd, v, 1)
      .unionByName(Gen.events(spark, seed, next, next + upsertRows - nUpd, v, 1))
    written("upsert_bytes")(ctx.span("ds.upsert")(writer(WriteMode.Upsert).write(spark, batch)))
    commits += Commit(next, next + upsertRows - nUpd, o, o + nUpd, v)
    next += upsertRows - nUpd
    tally("offered") += upsertRows
    true
  }

  /** Manifest snapshot, then its row count by a plain read of the files
    * the manifest names. Checked now because a later upsert or
    * compaction retires some of those files. */
  private def snapshot(): Boolean = {
    clock += 60
    val id = written("snapshot_bytes")(
      ctx.span("meta.snapshot")(tf.addSnapshot(Instant.ofEpochSecond(clock), manifest = true)))
    ctx.check {
      val manifest = root.resolve("snapshot").resolve(id).resolve("_manifest.txt")
      val files = java.nio.file.Files.readAllLines(manifest).toArray.map(_.toString)
        .filter(_.nonEmpty).map(_.split("\t", 2)(1))
      val rows = spark.read.parquet(files.toIndexedSeq: _*).count()
      if (rows != next) System.err.println(s"[lakebench] snapshot $id: $rows rows, expected $next")
      rows == next
    }
  }

  private def readback(): Boolean = {
    val files = ctx.span("core.listing")(ds.dataFileStatuses(spark))
    tally("listed_files") += files.size
    val df = ctx.span("ds.df_plan_cold")(ds.df(spark))
    val rows = ctx.span("queries.exec")(
      df.groupBy("day").agg(count(lit(1)).as("n"), sum("value").as("v")).collect())
    rows.map(_.getLong(1)).sum == next
  }

  private def compact(): Boolean = {
    written("compact_bytes")(ctx.span("ds.compact")(Repartition.compact(spark, ds)))
    true
  }

  def verify(checks: Checks): Unit = {
    // reference for the live rows: regenerate every key at its last
    // version straight from the generator, no lake layer involved
    val version = commits.filter(_.version > 0).foldLeft(lit(0)) { (acc, c) =>
      when((col("id") >= c.updLo && col("id") < c.updHi) || (col("id") >= c.newLo && col("id") < c.newHi),
        lit(c.version)).otherwise(acc)
    }
    val expected = spark.range(0, next)
      .select(Gen.checksum(col("id"), Gen.eventValue(seed, col("id"), version))).head().getLong(0)
    val live = spark.read.parquet(ds.path)
    val r = live.agg(count(lit(1)), countDistinct("event_id"),
      Gen.checksum(col("event_id"), col("value"))).head()
    checks.expect("lake_ingest.rows", next, r.getLong(0))
    checks.expect("lake_ingest.distinct_keys", next, r.getLong(1))
    checks.expect("lake_ingest.payload_checksum", expected, r.getLong(2))
    stream.verify(checks)
    // the amplification denominator: the live data files, which the final
    // compaction has just rewritten into one compact file per partition
    liveDataBytes = Fs.parquetFiles(java.nio.file.Paths.get(ds.path))
      .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum
    lakeBytes = Fs.bytesUnder(root)
    liveFiles = ds.dataFiles(spark).size
  }
  private var liveDataBytes = 1L
  private var lakeBytes = 0L
  private var liveFiles = 0

  def sizes: Map[String, Long] = Map("base_rows" -> baseRows, "delta_new_rows" -> newRows,
    "delta_replay_rows" -> replayRows, "upsert_rows" -> upsertRows, "live_rows_end" -> next) ++ stream.sizes

  def report(phaseSeconds: Double): Report = {
    val commitLat = ctx.latencies("commit.delta", "commit.upsert")
    val readbacks = ctx.latencies("readback")
    val lock = DatasetLock.statsFor(new Path(ds.path))
    val batchOps = ctx.ops.filter(_.kind != "stream_run").map(_.seconds).sum
    Report(
      unitOp = _.startsWith("commit."),
      named = Seq(
        ("ingest_rows_per_s", tally("offered") / batchOps, "rows/s", commitLat.size),
        ("commit_p50_s", Stats.median(commitLat), "s", commitLat.size),
        ("commit_p90_s", Stats.quantile(commitLat, 0.9), "s", commitLat.size),
        ("readback_p50_s", Stats.median(readbacks), "s", readbacks.size),
        ("write_amp", (bytesAtPhaseEnd - bytesAtSetup).toDouble / liveDataBytes, "ratio", 1),
        ("space_amp", lakeBytes.toDouble / liveDataBytes, "ratio", 1)) ++
        stream.named(ctx.latencies("stream_run").sum),
      layer = stream.layer ++ Map(
        "ds.lock_acquires" -> (lock.acquires - lock0.acquires).toDouble,
        "ds.lock_wait_s" -> (lock.waitedMs - lock0.waitedMs) / 1000.0,
        "ds.delta_useful_frac" -> tally("delta_committed").toDouble / tally("delta_offered").max(1L),
        "ds.upsert_bytes_rewritten" -> tally("upsert_bytes").toDouble,
        "meta.snapshot_bytes" -> tally("snapshot_bytes").toDouble,
        "ds.compact_bytes_rewritten" -> tally("compact_bytes").toDouble,
        "ds.bytes_written" -> (bytesAtPhaseEnd - bytesAtPhase).toDouble,
        "ds.live_files" -> liveFiles.toDouble,
        "core.listing_files" -> tally("listed_files").toDouble))
  }
}

object LakeIngest {
  /** Steps per upsert, snapshot and read-back; a stream run every two periods. */
  val Period = 3
  val LayerKeys = Seq("ds.lock_acquires", "ds.lock_wait_s", "ds.delta_useful_frac",
    "ds.upsert_bytes_rewritten", "meta.snapshot_bytes", "ds.compact_bytes_rewritten",
    "ds.bytes_written", "ds.live_files", "core.listing_files") ++ StreamIngest.LayerKeys
}
