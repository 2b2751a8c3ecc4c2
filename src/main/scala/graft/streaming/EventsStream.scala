package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel
import graft.ds.{DatasetWriter, GraftDataset, WriteMode}

/** Structured Streaming ingestion of the `events` table shape
  * (north-star extension, SURVEY §1.5/§7: the reference has no streaming;
  * this maps its batch time-window semantics onto readStream →
  * watermark → windowed agg → foreachBatch delta sink, reusing the W6
  * delta writer so replayed micro-batches stay idempotent).
  */
object EventsStream {

  /** File-source stream over a directory of events parquet files.
    *
    * `filesPerTrigger` is the batch-size dial: 1 (the default) gives
    * file-grained micro-batches — what the replay/idempotence and
    * multi-batch-watermark contracts deliberately exercise — while a
    * production ingest should set it to the real batch appetite
    * (hundreds of files) because EVERY micro-batch pays a fixed
    * orchestration cost (planning + one state-store checkpoint per
    * state partition) regardless of data volume; see SCALE.md's
    * measured per-batch overhead. */
  def readEvents(spark: SparkSession, dir: String, filesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(dir)

  /** Watermarked tumbling-window aggregation: per (window, event_type)
    * counts and value sums. Late data beyond the watermark is dropped —
    * state stays bounded no matter how long the stream runs. */
  def windowedAgg(events: DataFrame, window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total_value"))

  /** Stream-static enrichment: every streamed event joins a STATIC
    * dimension before the watermarked windowed aggregate. The static
    * side is re-read per micro-batch and broadcast — it never enters
    * streaming state, so dimension size is bounded by broadcast
    * memory, not by state-store growth, and dimension updates between
    * micro-batches are picked up automatically (the standard Spark
    * stream-static contract). At 100 TB of stream this is the shape
    * for slowly-changing lookups; a FAST-changing dimension would need
    * a stream-stream join with its own watermark instead. */
  def enrichedWindowedAgg(
      events: DataFrame, dim: DataFrame,
      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      // un-hinted stream-static join: the batch planner broadcasts the
      // dim while it fits the session threshold; a user-scale dimension
      // (unbounded growth) degrades to a shuffled join instead of
      // forcing an executor-OOM broadcast every micro-batch
      .join(dim, Seq("user_id"))
      .groupBy(window(col("ts"), window_).as("w"), col("segment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("w.start").as("window_start"), col("segment"), col("n"), col("total_value"))

  /** Stream-STREAM self-join: attribute each `to` event (purchase) to
    * the `from` events (views) of the same user within `within` before
    * it. Both sides carry watermarks and the join condition bounds the
    * time range, so each side's buffered state is evicted once the
    * other side's watermark passes `ts + within` — state stays bounded
    * on an unbounded stream, which is the entire game for
    * stream-stream joins at scale (an unbounded join condition would
    * buffer both streams forever). Inner join: matches emit as soon as
    * both rows have arrived; the watermark only governs state cleanup,
    * so an AvailableNow run emits exactly the batch join's rows. */
  def attributionJoin(
      events: DataFrame, from: String = "view", to: String = "purchase",
      within: String = "30 minutes", watermark: String = "2 hours"): DataFrame = {
    val a = events.filter(col("event_type") === from)
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("ts_view"))
      .withWatermark("ts_view", watermark)
    val b = events.filter(col("event_type") === to)
      .select(col("user_id").as("__u"), col("event_id").as("purchase_id"),
        col("ts").as("ts_purchase"))
      .withWatermark("ts_purchase", watermark)
    a.join(b,
      col("user_id") === col("__u") &&
        col("ts_purchase") >= col("ts_view") &&
        col("ts_purchase") <= col("ts_view") + expr(s"INTERVAL $within"))
      .select(col("view_id"), col("purchase_id"), col("user_id"))
  }

  /** Sink the aggregate into a graft dataset via foreachBatch + delta
    * mode — micro-batch replays (failure recovery) cannot duplicate
    * rows because the delta writer anti-joins what already landed.
    *
    * A batch with no rows writes nothing: a watermark-only batch would
    * otherwise still scan the sink target in the delta's set-EXCEPT.
    * The batch is persisted, so the emptiness check and the write share
    * one evaluation of the stateful plan (each partition is computed,
    * and its state committed, once). */
  def startDeltaSink(
      agg: DataFrame, targetPath: String, checkpoint: String): StreamingQuery =
    agg.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val pinned = batch.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          if (!pinned.isEmpty)
            DatasetWriter(GraftDataset(targetPath), WriteMode.Delta).write(batch.sparkSession, pinned)
        } finally pinned.unpersist()
        ()
      }
      .start()

  /** Run `body` with the RocksDB state store provider selected for any
    * streaming query STARTED inside it (the provider is latched into
    * the query's checkpoint at first start; a restarted query keeps its
    * original provider).
    *
    * Why this is the 100 TB knob: the default HDFSBackedStateStore
    * keeps every state key on the executor HEAP — fine for the bounded
    * fixture windows here, a hard ceiling once session/dedup/
    * stream-join state reaches tens of millions of keys per partition.
    * RocksDB holds state off-heap on local disk (memory bounded by
    * block cache, not key count) and, with
    * `spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing
    * .enabled=true`, checkpoints per-batch CHANGELOGS instead of full
    * snapshots — per-batch upload cost proportional to what changed,
    * which is the difference between minutes and seconds of commit
    * latency on large state. Everything else in this file is
    * provider-agnostic; the spec proves identical answers under both
    * providers on the same input. */
  def withRocksDBState[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  /** Exactly-once-per-key streaming dedup: drops events whose
    * `event_id` was already seen within the watermark horizon. State is
    * bounded — ids older than the watermark are evicted, which is the
    * only way streaming dedup survives an unbounded stream. */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** File-source stream over a directory of documents parquet files.
    * Same `filesPerTrigger` contract as [[readEvents]]. */
  def readDocuments(spark: SparkSession, dir: String, filesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(dir)

  /** Streaming corpus ingestion: quality gate → exact content dedup —
    * the live-arrival twin of the batch curation gate. Every document
    * is fingerprinted (canonical md5), scored, and language-id'd as it
    * streams in; sub-quality docs drop before any state is touched,
    * and `dropDuplicates(fp)` keeps exactly one copy of each distinct
    * content across ALL micro-batches — re-deliveries and re-crawls
    * land on existing state and vanish.
    *
    * State contract: fp state is corpus-lifetime exact dedup, so it
    * grows with distinct content (one 128-bit key per unique doc) —
    * bounded-horizon alternatives are `dropDuplicatesWithinWatermark`
    * when an event-time column exists, or the batch delta sink's
    * bloom-fronted anti-join for unbounded corpora. The gate runs
    * BEFORE dedup so rejected content never occupies state. */
  def gatedDedupIngest(docs: DataFrame, minQuality: Double = 0.6): DataFrame = {
    import graft.functions.TextFunctions
    docs
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .withColumn("q", TextFunctions.qualityScore(col("text")))
      .withColumn("lang_pred", TextFunctions.langId(col("text")))
      .withColumn("tok", TextFunctions.wsTokenCount(col("text")))
      // fused one-kernel-call gate: the composed `col("q") >=
      // minQuality` predicate gets inlined into FilterExec (no CSE
      // there) and re-evaluates the marker kernel per field access
      .filter(TextFunctions.qualityGate(col("text"), minQuality, null))
      .dropDuplicates("fp")
  }

  /** Streaming MinHash-LSH near-dup candidate generation — the
    * live-arrival twin of [[graft.operators.Dedup.minhashLshPairs]]'s
    * candidate stage: each arriving document's band keys probe a
    * per-bucket memory of every id seen in that bucket so far, emitting
    * `(id_a, id_b)` (id_a < id_b) for every bucket cohabitation —
    * across micro-batches and within them. The cumulative pair set
    * equals the batch self-join's candidates regardless of arrival
    * order or trigger batching (spec-pinned), so the exact-Jaccard
    * verdict downstream is stream-order-invariant.
    *
    * State contract: one posting list per non-empty LSH bucket — ids
    * only, never signatures or text, so a bucket costs 8 bytes per
    * member and the total state is exactly the LSH index a batch run
    * would build (O(n·bands) longs). `maxBucket` bounds the one shape
    * that grows without limit — a mega-cluster of near-identical docs
    * collapsing into one bucket: past the cap, new arrivals still pair
    * against the capped members (every member keeps its earliest
    * `maxBucket` partners — in particular the cluster's canonical
    * lowest ids) but stop extending the list, and past-cap arrivals
    * never pair with EACH OTHER — so the batch-equality claim is
    * scoped to runs where no bucket hits the cap. That condition is
    * observable, not assumed (the no-silent-caps rule): the
    * `graft.lshPairStream.cappedBuckets` accumulator counts frozen
    * buckets — 0 at every fixture, where the equality spec is exact.
    * At corpus scale a capped bucket is the same boilerplate-bucket
    * treatment as `maxShingleDf`.
    * Candidate pairs can repeat across buckets/batches (same as the
    * batch pipeline pre-`distinct`) — the batch read-back dedups. */
  def lshPairStream(docs: DataFrame, n: Int = 3, k: Int = 32, bands: Int = 8,
      maxBucket: Int = 1024): DataFrame = {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"lshPairStream: bands ($bands) must divide k ($k) — see minhashLshPairs")
    require(maxBucket >= 2, s"lshPairStream: maxBucket must be >= 2, got $maxBucket")
    val spark = docs.sparkSession
    import spark.implicits._
    val r = k / bands
    // same empty-doc rule as the batch pipeline: a zero-shingle doc
    // minhashes to the all-MaxValue signature and would collide with
    // every other empty doc in every band
    val buckets = docs
      .select(col("doc_id"), TextFunctions.shingleSet(col("text"), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), posexplode(
        TextFunctions.bandKeys(TextFunctions.minhashSignature(col("sh"), k), bands, r))
        .as(Seq("band", "key")))
      .select(col("band").cast("int"), col("key").cast("int"), col("doc_id"))
      .as[(Int, Int, Long)]
    // no-silent-caps rule: buckets frozen by maxBucket are COUNTED —
    // the batch-equality claim holds exactly while this accumulator
    // stays 0 (visible in the UI/progress and readable by callers)
    val capped = spark.sparkContext.longAccumulator("graft.lshPairStream.cappedBuckets")
    buckets.groupByKey(t => (t._1, t._2))
      .flatMapGroupsWithState[Array[Long], (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, rows, state) =>
          val seen0 = state.getOption.getOrElse(Array.empty[Long])
          val wasBelow = seen0.length < maxBucket
          // id order within the batch: emitted pairs are then a pure
          // function of the cumulative member SET, not arrival order
          val incoming = rows.map(_._3).toArray.sorted.distinct
          val members = new java.util.HashSet[java.lang.Long](seen0.length * 2 + 8)
          seen0.foreach(members.add(_))
          val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
          buf ++= seen0
          val out = Seq.newBuilder[(Long, Long)]
          incoming.foreach { id =>
            buf.foreach { s =>
              if (s != id) out += ((math.min(s, id), math.max(s, id)))
            }
            if (buf.length < maxBucket && members.add(id)) buf += id
          }
          if (wasBelow && buf.length >= maxBucket) capped.add(1)
          state.update(buf.toArray)
          out.result().iterator
      }
      .toDF("id_a", "id_b")
  }

  /** Custom-state example that the declarative operators cannot
    * express: emit one alert the first time a user's *cumulative*
    * event value crosses `limit` (and never again for that user).
    * `flatMapGroupsWithState` owns an explicit per-key state cell —
    * the general tool when state transitions depend on arbitrary
    * logic rather than a window shape. */
  def thresholdAlerts(
      spark: SparkSession, events: DataFrame, limit: Double): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // value is nullable in the events schema; the primitive Double
    // encoder would kill the whole query on one NULL row. SQL-sum
    // semantics (nulls contribute nothing) match the windowed aggs.
    val typed = events.select(col("user_id"), col("value"))
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .as[(Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Double, Boolean), (Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Double, Boolean)]) =>
          val (sum0, fired0) = state.getOption.getOrElse((0.0, false))
          val total = sum0 + rows.map(_._2).sum
          val fire = !fired0 && total >= limit
          state.update((total, fired0 || fire))
          if (fire) Iterator((user, total)) else Iterator.empty
      }
      .toDF("user_id", "total_at_alert")
  }

  /** Sessionization with custom state: gap-based sessions per user via
    * flatMapGroupsWithState would be the general tool; for the common
    * gap-session case Spark's built-in session_window keeps it
    * declarative (and codegen'd). */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
      .select(col("s.start").as("session_start"), col("s.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))
}
