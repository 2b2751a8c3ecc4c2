package graft.ds

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Bloom key index: delta semantics must be IDENTICAL with and without
  * the sidecar (false positives fall through to the exact anti-join),
  * while an all-new batch must skip the existing-side scan entirely —
  * asserted on the actually-executed plans. */
class BloomIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/ds"

  private def capturePlans(body: => Unit): Seq[String] = {
    val captured = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        captured.add(qe.explainString(FormattedMode))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      var last = -1; var stable = 0; var waited = 0
      while (stable < 2 && waited < 100) {
        Thread.sleep(100)
        val now = captured.size
        if (now == last) stable += 1 else stable = 0
        last = now; waited += 1
      }
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    captured.asScala.toSeq
  }

  test("bloom-indexed delta: identical semantics, superset maintained across writes") {
    val dir = tmpDir("graft_bloom_sem")
    val ds = GraftDataset(dir)
    val w = DatasetWriter(ds).withDeltaSubset("id").withBloomIndex
    w.write(spark, (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    assert(BloomIndex.load(ds.fs(spark), dir).exists(_.cols == Seq("id")),
      "first write must create the sidecar")

    // overlapping delta batch: only unseen keys land
    val n1 = w.withMode(WriteMode.Delta)
      .write(spark, (400 to 700).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    assert(n1 == 200, s"expected 200 new rows, wrote $n1")
    assert(ds.df(spark).count() == 700)

    // re-running the SAME batch is a no-op (keys merged into sidecar)
    val n2 = w.withMode(WriteMode.Delta)
      .write(spark, (400 to 700).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    assert(n2 == 0, s"delta must be idempotent, wrote $n2")
    assert(ds.df(spark).count() == 700)

    // plain appends keep the sidecar superset too (no flags needed)
    DatasetWriter(ds).write(spark, Seq((701L, "x")).toDF("id", "v"))
    val n3 = DatasetWriter(ds, WriteMode.Delta).withDeltaSubset("id")
      .write(spark, Seq((701L, "x"), (702L, "y")).toDF("id", "v"))
    assert(n3 == 1, s"append-then-delta must see the appended key, wrote $n3")
    assert(ds.df(spark).select("id").distinct().count() == 702)
  }

  private def sidecarBytes(ds: GraftDataset): Seq[Byte] = {
    val in = ds.fs(spark).open(BloomIndex.sidecar(ds.path))
    try in.readAllBytes().toSeq finally in.close()
  }

  /** Every file under `root`, sidecars and empty files included. */
  private def allFiles(ds: GraftDataset): Set[String] = {
    val it = ds.fs(spark).listFiles(new org.apache.hadoop.fs.Path(ds.path), true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSet
  }

  test("full replay through a bloom-indexed delta leaves data and sidecar untouched") {
    val ds = GraftDataset(tmpDir("graft_bloom_replay"))
    val w = DatasetWriter(ds).withDeltaSubset("id").withBloomIndex
    val batch = (1 to 300).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    w.write(spark, batch)
    val files = ds.dataFiles(spark).toSet
    val everything = allFiles(ds)
    val bytes = sidecarBytes(ds)
    val before = BloomIndex.load(ds.fs(spark), ds.path).get
    val staging = Commit.stagingOf(new org.apache.hadoop.fs.Path(ds.path))
    // keyed (bloom-probed) and keyless (set-EXCEPT, the stream sink's
    // shape) replays: each writes nothing, not even an empty file
    Seq("keyed" -> w.withMode(WriteMode.Delta), "keyless" -> DatasetWriter(ds, WriteMode.Delta))
      .foreach { case (kind, replay) =>
        assert(replay.write(spark, batch) == 0, s"a $kind full replay must write nothing")
        assert(ds.dataFiles(spark).toSet == files, s"a $kind full replay must add no data file")
        assert(allFiles(ds) == everything, s"a $kind full replay must add no file at all")
        assert(!ds.fs(spark).exists(staging), s"a $kind full replay must leave no staging dir")
        assert(sidecarBytes(ds) == bytes, s"a $kind full replay must leave the sidecar byte-identical")
        assert(BloomIndex.load(ds.fs(spark), ds.path).get.inserted == before.inserted)
      }
  }

  test("an append from a non-deterministic batch merges exactly the keys it wrote") {
    val ds = GraftDataset(tmpDir("graft_bloom_nondet"))
    DatasetWriter(ds).withDeltaSubset("id").withBloomIndex
      .write(spark, (1 to 50).map(i => (s"k$i", s"v$i")).toDF("id", "v"))
    // a fresh UUID per evaluation: a write that read its input once for
    // the sidecar merge and again for the data would merge one draw of
    // keys and write another
    val draw = udf(() => java.util.UUID.randomUUID().toString).asNondeterministic()
    val batch = spark.range(0, 400, 1, 4).select(draw().as("id"), lit("drawn").as("v"))
    assert(DatasetWriter(ds, WriteMode.Append).write(spark, batch) == 400)
    val idx = BloomIndex.load(ds.fs(spark), ds.path).get
    val live = ds.df(spark)
    assert(live.count() == 450)
    val missed = live.filter(!BloomIndex.mightContain(idx)).count()
    assert(missed == 0, s"$missed live keys are missing from the sidecar")
    // replaying the live rows through the bloom-probed delta lands nothing
    val replay = live.collect().toSeq.map(r => (r.getString(0), r.getString(1))).toDF("id", "v")
    assert(DatasetWriter(ds, WriteMode.Delta).withDeltaSubset("id").write(spark, replay) == 0)
    assert(ds.df(spark).count() == 450)
  }

  test("a partly new delta advances occupancy by its diff, not its batch") {
    val ds = GraftDataset(tmpDir("graft_bloom_diffocc"))
    val w = DatasetWriter(ds).withDeltaSubset("id").withBloomIndex
    w.write(spark, (1 to 300).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val before = BloomIndex.load(ds.fs(spark), ds.path).get
    val files = ds.dataFiles(spark).size
    // 101 offered rows, 41 of them already live; count batching sizes
    // its files from a count of the pinned diff
    val n = w.withMode(WriteMode.Delta).withBatchRows(25)
      .write(spark, (260 to 360).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    assert(n == 60)
    val after = BloomIndex.load(ds.fs(spark), ds.path).get
    assert(after.inserted - before.inserted == 60,
      s"occupancy must advance by the 60 diff rows, advanced ${after.inserted - before.inserted}")
    assert(ds.df(spark).count() == 360)
    assert(ds.dataFiles(spark).size - files == 3, "60 rows at 25 per file must land as 3 files")
  }

  test("an EMPTY batch is a no-op merge, not a crash (scheduled-ingest shape)") {
    // a zero-row batch must yield an empty filter of the sidecar's
    // layout, never a null or a crash — empty batches are routine
    // between scheduled ingest runs
    val dir = tmpDir("graft_bloom_empty")
    val ds = GraftDataset(dir)
    val w = DatasetWriter(ds).withDeltaSubset("id").withBloomIndex
    w.write(spark, (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val fs = ds.fs(spark)
    val before = BloomIndex.load(fs, ds.path).get
    // empty APPEND (not delta — the delta path is emptiness-gated)
    DatasetWriter(ds, WriteMode.Append)
      .write(spark, Seq.empty[(Long, String)].toDF("id", "v"))
    val after = BloomIndex.load(fs, ds.path).get
    assert(after.inserted == before.inserted, "an empty batch must not advance occupancy")
    // and the filter still answers: all original keys present
    val (bf, n) = BloomIndex.fromBatchCounted(
      Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"), 1024, 0.01)
    assert(n == 0 && !bf.mightContainLong(42L))
    assert(ds.df(spark).count() == 100)
    // fromBatch too: build(expectedItems = None) on an empty or
    // just-emptied dataset is the rebuildIfOverBudget +
    // scheduled-maintenance shape
    val bf2 = BloomIndex.fromBatch(
      Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"), 1024, 0.01)
    assert(!bf2.mightContainLong(42L), "empty self-sized build must yield an empty filter")
    val emptyDir = tmpDir("graft_bloom_empty_build")
    val eds = GraftDataset(emptyDir)
    DatasetWriter(eds).write(spark, Seq.empty[(Long, String)].toDF("id", "v"))
    val built = BloomIndex.build(spark, eds, Seq("id"))
    assert(built.forall(_.inserted == 0), "build over an empty dataset must not crash")
  }

  test("layout survives the runtime-bloom conf caps above 4M expected items") {
    // Spark's BloomFilterAggregate clamps at spark.sql.optimizer.
    // runtime.bloomFilter.maxNumItems/maxNumBits (4M items / 64M bits
    // default) — fine for runtime join filters, fatal for a persistent
    // key index: a clamped 10M-item filter is silently undersized AND
    // layout-incompatible with BloomFilter.create(10M, fpp), so any
    // create()-built sidecar would throw IncompatibleMergeException on
    // merge. fromBatchCounted's aggregate must keep create()'s layout
    // whatever those caps say, and must not touch them.
    val tenM = 10L * 1000 * 1000
    val (bf, n) = BloomIndex.fromBatchCounted(
      spark.range(0, 1000).selectExpr("id"), Seq("id"), tenM, 0.01)
    assert(n == 1000)
    val ref = org.apache.spark.util.sketch.BloomFilter.create(tenM, 0.01)
    assert(bf.bitSize() == ref.bitSize(),
      s"clamped layout: agg=${bf.bitSize()} create=${ref.bitSize()}")
    ref.mergeInPlace(bf) // must not throw
    // ... and the session caps are left as they were
    assert(spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
      <= 67108864L)
    // empty batch at the same capacity: same layout, mergeable
    val (ebf, en) = BloomIndex.fromBatchCounted(
      Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"), tenM, 0.01)
    assert(en == 0)
    ebf.mergeInPlace(bf) // must not throw either
  }

  test("over the size ceiling the bloom layer switches off, never undersizes") {
    // a filter past maxFilterBytes would be a driver-OOM-scale object
    // riding the probe expression into every task; the contract is
    // loud absence (delta falls back to the exact anti-join), never a
    // silently degraded filter
    val dir = tmpDir("graft_bloom_budget")
    val ds = GraftDataset(dir)
    DatasetWriter(ds).write(spark, (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val fs = ds.fs(spark)
    // in-budget build works
    assert(BloomIndex.build(spark, ds, Seq("id")).nonEmpty)
    assert(BloomIndex.load(fs, ds.path).nonEmpty)
    // a build whose layout would exceed the ceiling refuses AND clears
    // the stale sidecar (post-overwrite it is no longer a superset)
    val res = BloomIndex.build(spark, ds, Seq("id"),
      expectedItems = Some(1L << 40), maxFilterBytes = 1024L * 1024)
    assert(res.isEmpty)
    assert(BloomIndex.load(fs, ds.path).isEmpty,
      "stale sidecar must not survive an over-budget rebuild")
    // ... and delta writes still work without the fast path
    DatasetWriter(ds, WriteMode.Delta).withDeltaSubset("id")
      .write(spark, Seq((1L, "v1"), (999L, "new")).toDF("id", "v"))
    assert(ds.df(spark).count() == 51)
  }

  test("all-new batch skips the existing-side anti-join (the 100 TB fast path)") {
    val dir = tmpDir("graft_bloom_fast")
    val ds = GraftDataset(dir)
    val w = DatasetWriter(ds).withDeltaSubset("id").withBloomIndex
    w.write(spark, (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v"))

    val allNew = (100001 to 100200).map(i => (i.toLong, s"n$i")).toDF("id", "v")
    val plans = capturePlans {
      val n = w.withMode(WriteMode.Delta).write(spark, allNew)
      assert(n == 200)
    }
    assert(plans.nonEmpty)
    assert(!plans.exists(_.contains("LeftAnti")),
      "an all-new batch must not execute the anti-join at all:\n" +
        plans.filter(_.contains("LeftAnti")).mkString("\n---\n"))
    // control: an overlapping batch DOES run the anti-join (the probe
    // is a filter, not a correctness shortcut)
    val overlap = (999 to 1050).map(i => (i.toLong, s"o$i")).toDF("id", "v")
    val plans2 = capturePlans {
      val n = w.withMode(WriteMode.Delta).write(spark, overlap)
      assert(n == 50)
    }
    assert(plans2.exists(_.contains("LeftAnti")),
      "overlapping keys must still verify through the exact anti-join")
    assert(ds.df(spark).count() == 1250)
  }

  test("upsert carries the sidecar through both rewrite paths") {
    // root-path upsert (unpartitioned): sidecar dies in the swap and
    // must be restored with the batch keys absorbed
    val flat = GraftDataset(tmpDir("graft_bloom_uflat"))
    val wf = DatasetWriter(flat).withDeltaSubset("id").withBloomIndex
    wf.write(spark, (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    wf.withMode(WriteMode.Upsert)
      .write(spark, Seq((1L, "u1"), (200L, "n200")).toDF("id", "v"))
    assert(BloomIndex.load(flat.fs(spark), flat.path).nonEmpty,
      "root-swap upsert must restore the sidecar")
    val nf = wf.withMode(WriteMode.Delta)
      .write(spark, Seq((200L, "n200"), (201L, "n201")).toDF("id", "v"))
    assert(nf == 1, s"upserted key must be in the filter, wrote $nf")

    // partition-scoped upsert: sidecar survives in the root, keys merge
    val part = GraftDataset(tmpDir("graft_bloom_upart"), partitioning = Seq("p"))
    val wp = DatasetWriter(part).withDeltaSubset("id").withBloomIndex
    wp.write(spark, (1 to 100).map(i => (i.toLong, s"v$i", i % 4)).toDF("id", "v", "p"))
    wp.withMode(WriteMode.Upsert)
      .write(spark, Seq((300L, "n300", 1)).toDF("id", "v", "p"))
    val np = wp.withMode(WriteMode.Delta)
      .write(spark, Seq((300L, "n300", 1), (301L, "n301", 2)).toDF("id", "v", "p"))
    assert(np == 1, s"partition-upserted key must be in the filter, wrote $np")
  }

  test("overwrite rebuilds; a foreign false positive still resolves exactly") {
    val dir = tmpDir("graft_bloom_ow")
    val ds = GraftDataset(dir)
    val w = DatasetWriter(ds).withDeltaSubset("id").withBloomIndex
    w.write(spark, (1 to 300).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val bytesBefore = BloomIndex.load(ds.fs(spark), dir).get.bytes.toSeq
    w.withMode(WriteMode.Overwrite)
      .write(spark, (1000 to 1100).map(i => (i.toLong, s"w$i")).toDF("id", "v"))
    val after = BloomIndex.load(ds.fs(spark), dir).get
    assert(after.bytes.toSeq != bytesBefore, "overwrite must rebuild the filter")
    // old keys are NOT in the rebuilt filter → an old-key batch is
    // all-new again; and a batch matching live keys still dedups
    assert(DatasetWriter(ds, WriteMode.Delta).withDeltaSubset("id")
      .write(spark, Seq((1L, "v1")).toDF("id", "v")) == 1)
    assert(DatasetWriter(ds, WriteMode.Delta).withDeltaSubset("id")
      .write(spark, Seq((1000L, "w1000")).toDF("id", "v")) == 0)
  }

  test("corrupt sidecar reads as absent and the next maintained write heals it") {
    val dir = tmpDir("graft_bloom_corrupt")
    val ds = GraftDataset(dir)
    val w = DatasetWriter(ds).withDeltaSubset("id").withBloomIndex
    w.write(spark, (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val fs = ds.fs(spark)
    val p = BloomIndex.sidecar(dir)
    // truncated payload — the residue a crash mid-write leaves on an FS
    // without atomic rename
    val out = fs.create(p, true)
    try out.write("graft-bloom-v1\tid\t1000\t0.01\n\u0000\u0001".getBytes(
      java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    assert(BloomIndex.load(fs, dir).isEmpty, "truncated filter bytes must read as absent")
    val out2 = fs.create(p, true)
    try out2.write("garbage".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out2.close()
    assert(BloomIndex.load(fs, dir).isEmpty, "garbage header must read as absent")
    // writes must keep working (exact anti-join fallback), and the
    // maintained writer rebuilds the index rather than leaving it dead
    val n = w.withMode(WriteMode.Delta)
      .write(spark, Seq((50L, "v50"), (51L, "x51")).toDF("id", "v"))
    assert(n == 1, s"delta over a corrupt sidecar must still dedup exactly, wrote $n")
    assert(BloomIndex.load(fs, dir).exists(_.cols == Seq("id")),
      "the maintained write must rebuild the sidecar")
    assert(ds.df(spark).count() == 51)
  }

  test("append lacking the key column absorbs the null-key hash instead of failing") {
    val dir = tmpDir("graft_bloom_nocol")
    val ds = GraftDataset(dir)
    DatasetWriter(ds).withDeltaSubset("id").withBloomIndex
      .write(spark, (1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    // schema-divergent append WITHOUT the key column (the unify-rewrite
    // flows exist for exactly this) — those rows read back as id=NULL
    DatasetWriter(ds, WriteMode.Append).write(spark, Seq("w1", "w2").toDF("v"))
    assert(ds.df(spark).count() == 22)
    // the sidecar stayed a superset: the null-tuple hash (what those
    // rows' keys read back as) must now probe TRUE, so a later delta
    // carrying a null key routes through the exact join, never a blind
    // re-append
    val idx = BloomIndex.load(ds.fs(spark), dir).get
    val probes = Seq[java.lang.Long](null, 5L).toDF("id")
      .select(BloomIndex.mightContain(idx).as("m"))
      .collect().map(_.getBoolean(0))
    assert(probes(0), "the null-key hash must be in the filter after the keyless append")
    assert(probes(1), "pre-existing keys must remain in the filter")
    // and an all-new key still fast-paths to an append
    val n = DatasetWriter(ds, WriteMode.Delta).withDeltaSubset("id")
      .write(spark, Seq((9999L, "new")).toDF("id", "v"))
    assert(n == 1, s"all-new key after a keyless append must land, wrote $n")
  }

  test("expression: bloomContains agrees with filter membership, handles nulls") {
    val keys = (1L to 1000L).toDF("id")
    val bf = BloomIndex.fromBatch(keys, Seq("id"), 10000, 0.01)
    val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos)
    val probe = Seq[java.lang.Long](5L, 999L, 50000L, null).toDF("id")
      .select(graft.plans.GraftExpressions.bloomContains(
        BloomIndex.keyHash(Seq("id")), bos.toByteArray).as("m"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getBoolean(0)))
    assert(probe(0).contains(true) && probe(1).contains(true),
      "present keys must probe true (no false negatives)")
    // xxhash64 hashes null deterministically → non-null probe result
    assert(probe(3).isDefined)
  }

  /** Realized false-positive rate of `idx` against keys known absent. */
  private def falsePositives(idx: BloomIndex.Index, absentIds: Seq[Long]): Int = {
    val hashes = absentIds.toDF("id")
      .select(BloomIndex.keyHash(Seq("id")).as("h")).as[Long].collect()
    hashes.count(idx.bloom.mightContainLong)
  }

  test("occupancy: ingest past the filter budget auto-rebuilds inside the maintained write") {
    val dir = tmpDir("graft_bloom_occ")
    val ds = GraftDataset(dir)
    val w = DatasetWriter(ds).withDeltaSubset("id")
    w.write(spark, (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    // deliberately undersized: budget 150 with 100 keys already in
    BloomIndex.build(spark, ds, Seq("id"), expectedItems = Some(150))
    val before = BloomIndex.load(ds.fs(spark), dir).get
    assert(before.expectedItems == 150 && before.inserted == 100 && before.deleted == 0,
      s"build must record occupancy, got $before")

    // +100 all-new keys → occupancy 200 > budget 150 → the SAME write
    // must leave a rebuilt sidecar: re-sized from live rows, counters reset
    val n = w.withMode(WriteMode.Delta)
      .write(spark, (101 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    assert(n == 100)
    val after = BloomIndex.load(ds.fs(spark), dir).get
    assert(after.expectedItems == math.max(1L << 16, 200L * 4),
      s"rebuild must resize from live rows, got ${after.expectedItems}")
    assert(after.inserted == 200 && after.deleted == 0,
      s"rebuild must reset occupancy to live rows, got $after")
    // realized fpp is healthy again: 2000 absent keys at fpp=0.01 ≈ 20 hits
    val fp = falsePositives(after, (10001L to 12000L))
    assert(fp <= 60, s"rebuilt filter fpp degraded: $fp/2000 false positives")
    // and delta stays exact through the rebuild
    assert(w.withMode(WriteMode.Delta)
      .write(spark, (150 to 250).map(i => (i.toLong, s"v$i")).toDF("id", "v")) == 50)
  }

  test("occupancy: delete churn counts toward the rebuild trigger and purges stale keys") {
    val dir = tmpDir("graft_bloom_delchurn")
    val ds = GraftDataset(dir)
    val w = DatasetWriter(ds).withDeltaSubset("id")
    w.write(spark, (1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    BloomIndex.build(spark, ds, Seq("id"), expectedItems = Some(300))
    // 150 deleted rows push churn to 200+150 > 300 → rebuild over the
    // 50 live rows: purged keys really leave the filter
    val d = DatasetDelete.deleteWhere(spark, ds, col("id") <= 150)
    assert(d == 150)
    val after = BloomIndex.load(ds.fs(spark), dir).get
    assert(after.expectedItems == (1L << 16), // max(floor, 50*4)
      s"delete-triggered rebuild must resize, got ${after.expectedItems}")
    assert(after.inserted == 50 && after.deleted == 0, s"counters must reset, got $after")
    val fp = falsePositives(after, (1L to 150L))
    assert(fp <= 10, s"purged keys must be out of the rebuilt filter: $fp/150 still probe true")
  }

  test("occupancy: legacy 4-field header loads with a reconstructed estimate") {
    val dir = tmpDir("graft_bloom_legacy")
    val ds = GraftDataset(dir)
    DatasetWriter(ds).withDeltaSubset("id").withBloomIndex
      .write(spark, (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val fs = ds.fs(spark)
    val p = BloomIndex.sidecar(dir)
    // rewrite the sidecar with a pre-occupancy header over the SAME filter bytes
    val in = fs.open(p)
    val all = try in.readAllBytes() finally in.close()
    val payload = java.util.Arrays.copyOfRange(all, all.indexOf('\n'.toByte) + 1, all.length)
    val out = fs.create(p, true)
    try {
      out.write("graft-bloom-v1\tid\t1000\t0.01\n".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      out.write(payload)
    } finally out.close()
    val idx = BloomIndex.load(fs, dir).get
    assert(idx.expectedItems == 1000 && idx.inserted == 250 && idx.deleted == 0,
      s"legacy header must reconstruct inserted = expectedItems/4, got $idx")
    // and it still functions as a filter (no false negatives)
    val hash = Seq(7L).toDF("id")
      .select(BloomIndex.keyHash(Seq("id")).as("h")).as[Long].head()
    assert(idx.bloom.mightContainLong(hash))
  }
}
