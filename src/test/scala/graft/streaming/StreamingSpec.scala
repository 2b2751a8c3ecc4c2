package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.Tables

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("events stream: watermark + windowed agg + idempotent delta sink") {
    val tmp = Files.createTempDirectory("graft_stream_").toString
    val srcDir = s"$tmp/src"; val sinkDir = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"

    // stage the sf0.001 events as the stream source (micros timestamps);
    // one file = one trigger, so no cross-trigger late data
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .coalesce(1).write.parquet(srcDir)

    // watermark 0s: at stream end every closed window is flushed; only
    // the window containing max(ts) can remain open in append mode
    val agg = EventsStream.windowedAgg(EventsStream.readEvents(spark, srcDir),
      window_ = "1 hour", watermark = "0 seconds")
    val q = EventsStream.startDeltaSink(agg, sinkDir, ckpt)
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(sinkDir)
    val batch = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .groupBy(window(col("ts"), "1 hour").getField("start").as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val nStreamed = streamed.count(); val nBatch = batch.count()
    assert(nBatch - nStreamed <= 3 && nStreamed > 0,
      s"streamed=$nStreamed batch=$nBatch")
    // every emitted window must agree exactly with the batch twin
    val mismatched = streamed.alias("s")
      .join(batch.alias("b"), Seq("window_start", "event_type"), "left")
      .filter(col("s.n") =!= col("b.n") || col("b.n").isNull)
    assert(mismatched.count() == 0)

    // re-running the same stream over the same source must not duplicate
    // (delta sink idempotence) — fresh checkpoint forces full replay
    val q2 = EventsStream.startDeltaSink(
      EventsStream.windowedAgg(EventsStream.readEvents(spark, srcDir),
        window_ = "1 hour", watermark = "0 seconds"),
      sinkDir, s"$tmp/ckpt2")
    q2.awaitTermination(120000)
    assert(spark.read.parquet(sinkDir).count() == nStreamed)
  }

  test("filesPerTrigger batches N files into one micro-batch with identical results") {
    // the batch-size dial for production ingest: the SAME 4-file source
    // processed file-at-a-time (4 data batches, the replay-contract
    // shape) and all-at-once (1 data batch, the realistic-ingest shape)
    // must agree exactly — only the per-micro-batch orchestration cost
    // differs, which is what SCALE.md's overhead note quantifies
    val tmp = Files.createTempDirectory("graft_stream_fpt_").toString
    val srcDir = s"$tmp/src"
    // 4 contiguous event-time slices with ascending mtimes (the
    // x_stream_e2e staging contract): file-at-a-time processing then
    // never sees cross-batch late data, so the fine/bulk comparison
    // isolates BATCHING, not watermark drops
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .repartitionByRange(4, col("ts"), col("event_id"))
      .sortWithinPartitions(col("ts"), col("event_id"))
      .write.parquet(srcDir)
    val parts = new java.io.File(srcDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == 4)
    parts.zipWithIndex.foreach { case (f, i) =>
      assert(f.setLastModified(1000000L * (i + 1))) }

    def run(fpt: Int, tag: String): (Long, Int) = {
      val agg = EventsStream.windowedAgg(
        EventsStream.readEvents(spark, srcDir, filesPerTrigger = fpt),
        window_ = "1 hour", watermark = "0 seconds")
      val q = EventsStream.startDeltaSink(agg, s"$tmp/sink_$tag", s"$tmp/ckpt_$tag")
      q.awaitTermination(120000)
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      (spark.read.parquet(s"$tmp/sink_$tag")
        .select("window_start", "event_type", "n", "total_value")
        .orderBy("window_start", "event_type")
        .collect().map(_.toString).mkString("\n").hashCode.toLong, dataBatches)
    }
    val (hashFine, nFine) = run(1, "fine")
    val (hashBulk, nBulk) = run(8, "bulk")
    assert(nFine >= 4, s"expected >=4 file-grained data batches, saw $nFine")
    assert(nBulk == 1, s"expected a single bulk data batch, saw $nBulk")
    assert(hashFine == hashBulk, "batching granularity changed the emitted result")
  }

  test("x_stream_ingest_bulk (10-file triggers) emits exactly x_stream_ingest's result") {
    // the production-shape bench twin must be trigger-batching-invariant:
    // same corpus, same gate+dedup state machine, 20 files consumed 10
    // per trigger vs 3 files one at a time — identical aggregate out
    def rows(key: String) = graft.SparkEntry.queries(key)(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).toSeq.sorted
    assert(rows("x_stream_ingest_bulk") == rows("x_stream_ingest"))
  }

  test("streaming sink maintains the bloom and stats sidecars across micro-batch runs") {
    import graft.ds.{BloomIndex, GraftDataset, StatsIndex}
    val tmp = Files.createTempDirectory("graft_stream_maint_").toString
    val srcDir = s"$tmp/src"; val sinkDir = s"$tmp/sink"
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")

    // raw passthrough sink (no windowing — watermark lateness must not
    // confound the MAINTENANCE assertions) on ONE continuous
    // checkpoint: each restart of the AvailableNow job processes
    // exactly the new source files, the production incremental-ingest
    // shape
    val ckpt = s"$tmp/ckpt"
    def runSink(): Unit = {
      val q = EventsStream.startDeltaSink(
        EventsStream.readEvents(spark, srcDir)
          .select(col("event_id"), col("ts"), col("event_type"), col("value")),
        sinkDir, ckpt)
      q.awaitTermination(120000)
    }

    // increment 1 lands the dataset; then the user builds both indexes
    events.filter(pmod(col("event_id"), lit(3)) === 0)
      .coalesce(1).write.parquet(srcDir)
    runSink()
    val sinkDs = GraftDataset(sinkDir)
    val fs = sinkDs.fs(spark)
    BloomIndex.build(spark, sinkDs, Seq("event_id"))
    StatsIndex.build(spark, sinkDs, Seq("ts", "event_id"))
    val bloom0 = BloomIndex.load(fs, sinkDir).get
    val root0 = fs.getFileStatus(StatsIndex.sidecar(sinkDir))
    def segCount: Int =
      if (!fs.exists(StatsIndex.segDir(sinkDir))) 0
      else fs.listStatus(StatsIndex.segDir(sinkDir))
        .count(_.getPath.getName.startsWith("seg-"))

    // two more incremental runs: every micro-batch write must advance
    // the bloom occupancy and keep the stats index covering ALL files —
    // without rewriting the O(total-files) root
    events.filter(pmod(col("event_id"), lit(3)) === 1)
      .coalesce(1).write.mode("append").parquet(srcDir)
    runSink()
    val bloom1 = BloomIndex.load(fs, sinkDir).get
    assert(bloom1.inserted > bloom0.inserted,
      s"run 2 must merge its batch keys into the bloom sidecar " +
        s"(${bloom0.inserted} -> ${bloom1.inserted})")
    assert(segCount >= 1, "run 2's maintain must land a stats segment")

    events.filter(pmod(col("event_id"), lit(3)) === 2)
      .coalesce(1).write.mode("append").parquet(srcDir)
    runSink()
    val bloom2 = BloomIndex.load(fs, sinkDir).get
    assert(bloom2.inserted > bloom1.inserted,
      s"run 3 must advance occupancy (${bloom1.inserted} -> ${bloom2.inserted})")
    assert(segCount >= 2, "run 3 must land another segment")
    val root1 = fs.getFileStatus(StatsIndex.sidecar(sinkDir))
    assert(root1.getModificationTime == root0.getModificationTime &&
      root1.getLen == root0.getLen,
      "streaming maintenance must never rewrite the stats root per batch")

    // the effective index covers every sink file — nothing escaped
    // maintenance — and a window_start range query can prune
    val idx = StatsIndex.load(fs, sinkDir).get
    assert(idx.files.size == sinkDs.dataFiles(spark).size,
      s"stats index must cover all files: ${idx.files.size} of ${sinkDs.dataFiles(spark).size}")
    assert(spark.read.parquet(sinkDir).count() > 0)
  }

  test("stream-static enrichment joins via broadcast and matches the batch twin") {
    val tmp = Files.createTempDirectory("graft_enrich_").toString
    val srcDir = s"$tmp/src"; val sinkDir = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .coalesce(1).write.parquet(srcDir)
    val dim = Tables.load(spark, "/root/testdata/sf0.001", "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))

    val agg = EventsStream.enrichedWindowedAgg(
      EventsStream.readEvents(spark, srcDir), dim,
      window_ = "1 hour", watermark = "0 seconds")
    val q = EventsStream.startDeltaSink(agg, sinkDir, ckpt)
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(sinkDir)
    val batch = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .join(dim, Seq("user_id"))
      .groupBy(window(col("ts"), "1 hour").getField("start").as("window_start"),
        col("segment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    val nStreamed = streamed.count(); val nBatch = batch.count()
    assert(nStreamed > 0 && nBatch - nStreamed <= 5,
      s"streamed=$nStreamed batch=$nBatch")
    val mismatched = streamed.alias("s")
      .join(batch.alias("b"), Seq("window_start", "segment"), "left")
      .filter(col("s.n") =!= col("b.n") || col("b.n").isNull ||
        org.apache.spark.sql.functions.abs(col("s.total_value") - col("b.total_value")) > 1e-9)
    assert(mismatched.count() == 0)

    // the stream-static join is deliberately UN-hinted (a user-scale
    // dim must be able to degrade to a shuffled join instead of a
    // forced per-micro-batch broadcast); at THIS dim size the batch
    // planner must still pick a broadcast on its own — pin that via
    // the batch twin's executed plan (same dim, same join key, same
    // session thresholds the micro-batch planner applies)
    val batchPlan = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .join(dim, Seq("user_id")).queryExecution.executedPlan.toString
    assert(batchPlan.contains("BroadcastHashJoin"),
      s"planner stopped broadcasting the small dim un-hinted:\n${batchPlan.take(2000)}")
  }

  test("stream-stream attribution join equals the batch join and keeps join state") {
    val tmp = Files.createTempDirectory("graft_attrib_").toString
    val srcDir = s"$tmp/src"; val sinkDir = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .coalesce(1).write.parquet(srcDir)

    val joined = EventsStream.attributionJoin(EventsStream.readEvents(spark, srcDir))
    val q = EventsStream.startDeltaSink(joined, sinkDir, ckpt)
    q.awaitTermination(120000)

    // a stream-stream join must run through a stateful join operator
    val stateOps = q.recentProgress.flatMap(_.stateOperators).map(_.operatorName)
    assert(stateOps.exists(_.toLowerCase.contains("join")),
      s"no stateful join operator in progress: ${stateOps.mkString(", ")}")

    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val batch = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("ts_view"))
      .join(ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("ts_purchase")),
        Seq("user_id"))
      .filter(col("ts_purchase") >= col("ts_view") &&
        col("ts_purchase") <= col("ts_view") + expr("INTERVAL 30 minutes"))
      .select(col("view_id"), col("purchase_id"), col("user_id"))
    val got = spark.read.parquet(sinkDir)
      .select("view_id", "purchase_id", "user_id")
      .collect().map(_.toSeq).toSet
    val want = batch.collect().map(_.toSeq).toSet
    assert(got == want, s"streamed ${got.size} vs batch ${want.size}")
    assert(want.nonEmpty, "fixture must contain at least one attribution pair")
  }

  test("streaming dedup drops replayed event ids within the watermark") {
    val tmp = Files.createTempDirectory("graft_sdedup_").toString
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events").limit(200)
    // duplicate every event id (one clean file, one replayed file)
    ev.coalesce(1).write.parquet(s"$tmp/src")
    ev.coalesce(1).write.mode("append").parquet(s"$tmp/src")
    val deduped = EventsStream.dedupStream(EventsStream.readEvents(spark, s"$tmp/src"))
    val q = deduped.writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", s"$tmp/out").start()
    q.awaitTermination(120000)
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() == 200, s"got ${out.count()}")
    assert(out.select("event_id").distinct().count() == 200)
  }

  test("delta sink: a batch with no rows runs one emptiness check and never reads the sink") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val tmp = Files.createTempDirectory("graft_sink_empty_").toString
    val sinkDir = s"$tmp/sink"
    // one source file of 200 distinct events, one a minute
    spark.range(200).select(col("id").as("event_id"),
      timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"), (col("id") % 7).as("user_id"),
      lit("view").as("event_type"), col("id").cast("double").as("value"),
      lit(null).cast("string").as("props"))
      .coalesce(1).write.parquet(s"$tmp/src")
    // (batch id, SQL execution id) of every job, and every SQL
    // execution's physical plan: the jobs of one micro-batch and the
    // files their plans read
    val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
    val plans = new ConcurrentLinkedQueue[(Long, String)]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => jobs.add((b.toLong,
            Option(j.properties.getProperty("spark.sql.execution.id")).fold(-1L)(_.toLong))))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add((s.executionId, s.physicalPlanDescription))
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    val q = try {
      val q = EventsStream.startDeltaSink(
        EventsStream.dedupStream(EventsStream.readEvents(spark, s"$tmp/src")), sinkDir, s"$tmp/ckpt")
      q.awaitTermination(120000)
      Thread.sleep(500) // the listener bus is async
      q
    } finally spark.sparkContext.removeSparkListener(l)
    assert(q.exception.isEmpty, q.exception)
    val progress = q.recentProgress.toSeq
    val byBatch = jobs.asScala.toSeq.groupBy(_._1)
    val sinkPlans = plans.asScala.toSeq.filter(_._2.contains(sinkDir)).map(_._1).toSet
    val watermarkOnly = progress.filter(_.numInputRows == 0).map(_.batchId)
    assert(watermarkOnly.nonEmpty, "the run must end with a watermark-only batch")
    watermarkOnly.foreach { b =>
      val js = byBatch.getOrElse(b, Nil)
      assert(js.size <= 1, s"no-data batch $b ran ${js.size} jobs")
      assert(!js.exists(j => sinkPlans.contains(j._2)), s"no-data batch $b read the sink")
    }
    assert(spark.read.parquet(sinkDir).count() == 200)
  }

  test("gated ingest: quality gate drops before state, content dedup across batches") {
    val tmp = Files.createTempDirectory("graft_singest_").toString
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents").limit(100)
    // batch 1: originals; batch 2: all of them re-delivered with new ids
    docs.coalesce(1).write.parquet(s"$tmp/src")
    docs.withColumn("doc_id", col("doc_id") + 5000)
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    val q = EventsStream.gatedDedupIngest(EventsStream.readDocuments(spark, s"$tmp/src"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", s"$tmp/out").start()
    q.awaitTermination(120000)
    val out = spark.read.parquet(s"$tmp/out")
    val batchGated = docs
      .withColumn("q", graft.functions.TextFunctions.qualityScore(col("text")))
      .filter(col("q") >= 0.6)
      .withColumn("fp", graft.functions.TextFunctions.fingerprint(col("text")))
    val expectedFps = batchGated.select("fp").distinct().count()
    assert(out.count() == expectedFps, "one survivor per distinct gated content")
    assert(out.select("fp").distinct().count() == expectedFps)
    // nothing below the gate leaked into the sink
    assert(out.filter(col("q") < 0.6).count() == 0)
  }

  test("RocksDB state store: same answers as the default provider, provider proven engaged") {
    val tmp = Files.createTempDirectory("graft_stream_rocks_").toString
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .coalesce(1).write.parquet(s"$tmp/src")
    def run(sub: String, wrap: (=> org.apache.spark.sql.streaming.StreamingQuery) =>
        org.apache.spark.sql.streaming.StreamingQuery) = {
      val q = wrap {
        EventsStream.windowedAgg(EventsStream.readEvents(spark, s"$tmp/src"),
          window_ = "1 hour", watermark = "0 seconds")
          .writeStream.format("parquet")
          .option("path", s"$tmp/$sub/out")
          .option("checkpointLocation", s"$tmp/$sub/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination(120000)
      q
    }
    val qDefault = run("hdfs", identity(_))
    val qRocks = run("rocks", body => EventsStream.withRocksDBState(spark)(body))
    // provider really engaged: RocksDB reports its own state metrics
    val metrics = qRocks.recentProgress.flatMap(p =>
      p.stateOperators.flatMap(_.customMetrics.keySet().toArray(Array.empty[String])))
    assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
      s"no rocksdb state metrics in progress: ${metrics.distinct.mkString(",")}")
    // byte-identical answers across providers
    val a = spark.read.parquet(s"$tmp/hdfs/out").orderBy("window_start", "event_type").collect()
    val b = spark.read.parquet(s"$tmp/rocks/out").orderBy("window_start", "event_type").collect()
    assert(a.nonEmpty && a.sameElements(b))
    // ... and the session conf is restored for later suites
    assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .forall(!_.contains("RocksDB")))
  }

  test("flatMapGroupsWithState fires one threshold alert per user") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_alert_").toString
    // deterministic synthetic stream: 3 users, values sum past 100 for two
    Seq(
      (1L, "2024-01-01 00:00:00", 1L, "click", 60.0, "{}"),
      (2L, "2024-01-01 00:01:00", 1L, "click", 50.0, "{}"),   // user 1 crosses
      (3L, "2024-01-01 00:02:00", 2L, "click", 30.0, "{}"),
      (4L, "2024-01-01 00:03:00", 2L, "click", 30.0, "{}"),   // user 2 stays below
      (5L, "2024-01-01 00:04:00", 3L, "click", 150.0, "{}"),  // user 3 crosses
      (6L, "2024-01-01 00:05:00", 1L, "click", 999.0, "{}"))  // no second alert
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
      .coalesce(1).write.parquet(s"$tmp/src")
    val alerts = EventsStream.thresholdAlerts(spark,
      EventsStream.readEvents(spark, s"$tmp/src"), limit = 100.0)
    val q = alerts.writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", s"$tmp/out").start()
    q.awaitTermination(120000)
    val out = spark.read.parquet(s"$tmp/out")
      .select("user_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 3L), s"got $out")
  }

  test("streaming LSH pairs == batch minhashLshPairs, trigger-invariant") {
    import spark.implicits._
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // sliceOf is filled by the first run: doc_id → staged slice index
    val sliceOf = scala.collection.mutable.Map.empty[Long, Int]
    def run(files: Int, fpt: Int, tag: String): Set[(Long, Long, Double)] = {
      val tmp = Files.createTempDirectory(s"graft_slsh_$tag").toString
      // interleave id ranges across slices so near-dup pairs span
      // micro-batches — the bucket state must carry across triggers —
      // and pin mtimes so trigger ORDER is the slice order, not
      // filesystem luck (same rule as ExtQueries.stageSlices)
      docs.repartitionByRange(files, pmod(col("doc_id"), lit(7)), col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.parquet(s"$tmp/src")
      val parts = new java.io.File(s"$tmp/src").listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      parts.zipWithIndex.foreach { case (f, i) =>
        assert(f.setLastModified(1000000L * (i + 1)))
        if (sliceOf.isEmpty || tag == "multi")
          spark.read.parquet(f.getAbsolutePath).select("doc_id")
            .as[Long].collect().foreach(id => sliceOf(id) = i)
      }
      val q = EventsStream.lshPairStream(
          EventsStream.readDocuments(spark, s"$tmp/src", filesPerTrigger = fpt))
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", s"$tmp/out").start()
      q.awaitTermination(180000)
      graft.operators.Dedup.verifyPairs(
          spark.read.parquet(s"$tmp/out").distinct(), docs, "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet
    }
    val batch = graft.operators.Dedup.minhashLshPairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    val multi = run(4, 1, "multi")  // 4 micro-batches
    assert(multi == batch, s"streaming != batch: only-stream=${(multi -- batch).take(3)} " +
      s"only-batch=${(batch -- multi).take(3)}")
    // cross-batch provenance: the state must have carried — at least
    // one verified pair's members arrived in DIFFERENT micro-batches
    // (with 1-file triggers, slice == batch); a within-batch-only
    // regression would still pass set equality without this
    assert(multi.exists { case (a, b, _) => sliceOf(a) != sliceOf(b) },
      s"no verified pair spans micro-batches — cross-batch state untested " +
        s"(slices: ${multi.map { case (a, b, _) => (sliceOf(a), sliceOf(b)) }})")
    val single = run(4, 9, "single") // all files in one trigger
    assert(single == multi, "trigger batching changed the verified pair set")
  }

  test("lshPairStream: maxBucket caps state, capped members still pair") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_slshcap_").toString
    // 4 near-identical docs (one LSH bucket) split across two batches;
    // maxBucket=2 freezes the posting list at {1, 2}: later arrivals
    // pair against the capped set but never against each other
    // identical text → identical signature → guaranteed cohabitation;
    // explicit file names + mtimes pin the batch order ({1,2} first)
    val t = "the quick brown fox jumps over the lazy dog again and again"
    new java.io.File(s"$tmp/src").mkdirs()
    Seq(Seq((1L, t), (2L, t)), Seq((3L, t), (4L, t))).zipWithIndex.foreach {
      case (batch, i) =>
        val stage = s"$tmp/b$i"
        batch.toDF("doc_id", "text")
          .withColumn("lang", lit("en")).withColumn("source", lit("s"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$tmp/src", f"part-$i%04d.parquet")
        java.nio.file.Files.copy(part.toPath, dst.toPath)
        assert(dst.setLastModified(1000000L * (i + 1)))
    }
    val q = EventsStream.lshPairStream(
        EventsStream.readDocuments(spark, s"$tmp/src"), maxBucket = 2)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", s"$tmp/out").start()
    q.awaitTermination(120000)
    val pairs = spark.read.parquet(s"$tmp/out")
      .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
    assert(pairs((1L, 2L)) && pairs((1L, 3L)) && pairs((2L, 3L)) &&
      pairs((1L, 4L)) && pairs((2L, 4L)), s"missing capped-set pairs: $pairs")
    assert(!pairs((3L, 4L)), s"pair beyond the cap emitted: $pairs")
  }

  test("session windows: gap-based sessions per user") {
    val tmp = Files.createTempDirectory("graft_sess_").toString
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .write.parquet(s"$tmp/src")
    val sess = EventsStream.sessionAgg(EventsStream.readEvents(spark, s"$tmp/src"))
    val q = sess.writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", s"$tmp/out").start()
    q.awaitTermination(120000)
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() > 0)
    // every session holds ≥1 event and ends after it starts
    assert(out.filter(col("n_events") < 1 || col("session_end") <= col("session_start")).count() == 0)
  }
}
