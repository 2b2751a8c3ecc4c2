package graft.ds

import java.nio.file.Files
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, In, InSet, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** File-level stats index: build/load round-trip, safe-by-construction
  * pruning (superset of needed files, unknown files kept), incremental
  * refresh, corruption tolerance. */
class StatsIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/ds"

  /** Range-arranged dataset: 8 files, ids 0..799 split contiguously so
    * per-file ranges are selective. */
  private def rangedDataset(): GraftDataset = {
    val ds = GraftDataset(tmpDir("graft_stats"))
    val df = (0 until 800).map(i => (i.toLong, i.toDouble / 10, s"v$i")).toDF("id", "score", "v")
    DatasetWriter(ds, WriteMode.Overwrite)
      .write(spark, df.repartitionByRange(8, col("id")))
    ds
  }

  test("pruned scan reads fewer files, same answer; unsupported conjuncts ignored") {
    val ds = rangedDataset()
    StatsIndex.build(spark, ds, Seq("id", "score"))
    val all = ds.dataFiles(spark)
    assert(all.size == 8)

    val pred = col("id") >= 100L && col("id") < 300L
    val pruned = ds.pruned(spark, pred)
    assert(pruned.files.nonEmpty && pruned.files.size < all.size,
      s"expected file pruning, kept ${pruned.files.size} of ${all.size}")
    // correctness: pruned scan + full predicate == full scan + predicate
    val exact = ds.df(spark).filter(pred).agg(sum("id")).head.getLong(0)
    assert(pruned.df(spark).filter(pred).agg(sum("id")).head.getLong(0) == exact)

    // double-typed constraint prunes on the float column too
    val p2 = ds.pruned(spark, col("score") <= 5.0)
    assert(p2.files.size < all.size, "double-kind constraint must prune")

    // disjunctions prune: only the head and tail range files can hold
    // id<10 OR id>790 — everything between drops
    val orPred = col("id") < 10L || col("id") > 790L
    val orPruned = ds.pruned(spark, orPred)
    assert(orPruned.files.size == 2,
      s"OR must keep exactly the two edge files, kept ${orPruned.files.size}")
    assert(orPruned.df(spark).filter(orPred).count() ==
      ds.df(spark).filter(orPred).count())
    // but an OR with an un-compilable side is satisfiable by anything —
    // zero pruning, identity dataset back
    assert(ds.pruned(spark, col("id") < 10L || col("id") % 2 === 0L)
      .dataFiles(spark).size == all.size, "unknown OR side must not prune")

    // a constraint on an unindexed column keeps everything
    assert(ds.pruned(spark, col("v") === "v5").dataFiles(spark).size == all.size)

    // a predicate excluding every file still yields a scannable dataset
    val none = ds.pruned(spark, col("id") > 100000L)
    assert(none.files.size == 1, "empty selection keeps one schema-bearing file")
    assert(none.df(spark).filter(col("id") > 100000L).count() == 0)
  }

  test("files without index entries are never pruned (writer-agnostic safety)") {
    val ds = rangedDataset()
    StatsIndex.build(spark, ds, Seq("id"))
    // a FOREIGN append (plain Spark write, bypassing graft's writers so
    // no maintenance runs) the index has never seen — ids overlap the
    // prune range, so dropping the new file would lose rows
    Seq((150L, 0.0, "new")).toDF("id", "score", "v")
      .write.mode("append").parquet(ds.path)
    val pred = col("id") === 150L
    val got = ds.pruned(spark, pred).df(spark).filter(pred).count()
    assert(got == 2, s"unindexed file must be kept, saw $got of 2 matching rows")
  }

  test("refresh is incremental: recorded entries survive, new files get ranges") {
    val ds = rangedDataset()
    val before = StatsIndex.build(spark, ds, Seq("id"))
    DatasetWriter(ds, WriteMode.Append).write(spark,
      (10000 until 10100).map(i => (i.toLong, 0.0, "x")).toDF("id", "score", "v"))
    val after = StatsIndex.refresh(spark, ds)
    assert(before.files.keySet.subsetOf(after.files.keySet),
      "refresh must keep entries for files still present")
    assert(after.files.size > before.files.size, "refresh must index the new files")
    // and the new file is now prunable: an old-range query drops it
    val pruned = ds.pruned(spark, col("id") < 100L)
    assert(pruned.files.size < ds.dataFiles(spark).size)
    assert(pruned.df(spark).filter(col("id") < 100L).count() == 100)
  }

  test("timestamp and date domains prune; kind mismatches never prune") {
    val ds = GraftDataset(tmpDir("graft_stats_ts"))
    val df = (0 until 400).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-${i / 14 + 1}%02d 00:00:${i % 14}%02d"),
        java.sql.Date.valueOf(f"2024-02-${i / 14 + 1}%02d"), i.toLong)
    }.toDF("ts", "d", "id")
    DatasetWriter(ds, WriteMode.Overwrite)
      .write(spark, df.repartitionByRange(8, col("ts")))
    StatsIndex.build(spark, ds, Seq("ts", "d", "id"))
    val all = ds.dataFiles(spark).size

    val tsPred = col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-05 00:00:00"))
    val tsPruned = ds.pruned(spark, tsPred)
    assert(tsPruned.files.size < all, "timestamp constraint must prune")
    assert(tsPruned.df(spark).filter(tsPred).count() ==
      ds.df(spark).filter(tsPred).count())

    val dPred = col("d") <= lit(java.sql.Date.valueOf("2024-02-05"))
    val dPruned = ds.pruned(spark, dPred)
    assert(dPruned.files.size < all, "date constraint must prune")
    assert(dPruned.df(spark).filter(dPred).count() == ds.df(spark).filter(dPred).count())

    // DATE literal against the TIMESTAMP column: kinds differ → no
    // pruning (never a wrong prune), predicate still correct on scan
    val cross = ds.pruned(spark, col("ts") < lit(java.sql.Date.valueOf("2024-01-05")))
    assert(cross.dataFiles(spark).size == all, "cross-kind must not prune")
  }

  test("writers maintain an existing index automatically (no manual refresh)") {
    val ds = rangedDataset()
    StatsIndex.build(spark, ds, Seq("id"))
    // plain append: far-range ids land in a fresh file
    DatasetWriter(ds, WriteMode.Append).write(spark,
      (10000 until 10050).map(i => (i.toLong, 0.0, "x")).toDF("id", "score", "v"))
    val all = ds.dataFiles(spark).size
    // the NEW file must already be indexed: an old-range query prunes it
    val pruned = ds.pruned(spark, col("id") < 100L)
    assert(pruned.files.size < all,
      s"appended file must be prunable without manual refresh (${pruned.files.size} of $all)")
    assert(pruned.df(spark).filter(col("id") < 100L).count() == 100)

    // delete (partition-scoped counterpart lives in DatasetDeleteSpec):
    // a root-swap delete rebuilds the index over the surviving files
    assert(DatasetDelete.deleteWhere(spark, ds, col("id") >= 10000L) == 50)
    val idx = StatsIndex.load(ds.fs(spark), ds.path)
    assert(idx.nonEmpty, "root-swap delete must rebuild the stats index")
    val liveRels = ds.dataFiles(spark).map(f =>
      ds.fs(spark).makeQualified(new org.apache.hadoop.fs.Path(f)).toString
        .stripPrefix(ds.fs(spark).makeQualified(new org.apache.hadoop.fs.Path(ds.path)).toString + "/")).toSet
    assert(idx.get.files.keySet.subsetOf(liveRels), "no entries for dead files")
  }

  test("hostile shapes never prune wrongly: decimals, struct paths, NaN, OR identity") {
    val ds = GraftDataset(tmpDir("graft_stats_hostile"))
    val df = (0 until 200).map(i =>
      (i.toLong, BigDecimal(i) / 100, i.toDouble)).toDF("id", "amount", "score")
    DatasetWriter(ds, WriteMode.Overwrite)
      .write(spark, df.repartitionByRange(4, col("id")))
    StatsIndex.build(spark, ds, Seq("id", "amount", "score"))
    val all = ds.dataFiles(spark).size

    // DECIMAL stats are UNSCALED ints in the footer — they must not be
    // indexed at all (comparing a scaled literal would wrongly prune)
    val decPred = col("amount") < 0.5
    val decPruned = ds.pruned(spark, decPred)
    assert(decPruned.dataFiles(spark).size == all, "decimal constraint must not prune")
    assert(decPruned.df(spark).filter(decPred).count() ==
      ds.df(spark).filter(decPred).count())

    // a struct-field/qualified reference must not alias a top-level
    // column's stats (nameParts ["x","id"] is NOT column "id")
    assert(ds.pruned(spark, col("x.id") < 10L).dataFiles(spark).size == all,
      "multi-part attribute must not prune on a top-level column's stats")

    // NaN/Infinity literals have no range form — degrade, don't crash
    assert(ds.pruned(spark, col("score") === Double.NaN).dataFiles(spark).size == all)
    assert(ds.pruned(spark, col("score") < Double.PositiveInfinity)
      .dataFiles(spark).size == all)

    // nothing-pruned returns THIS (no pinned file snapshot): later
    // appends stay visible through the returned dataset — an OR with a
    // modulo side compiles to nothing
    val same = ds.pruned(spark, col("id") < 10L || col("id") % 7 === 0L)
    assert(same.files.isEmpty, "no pruning → identity, not a full-listing copy")
  }

  test("stats-less files are memoized as tombstones, not re-read every maintain") {
    val ds = rangedDataset()
    StatsIndex.build(spark, ds, Seq("id"))
    // a foreign file that LACKS the indexed column: footer has no `id`
    // chunk → empty entry → serialized tombstone
    Seq(("only", 1.0)).toDF("v", "score").write.mode("append").parquet(ds.path)
    StatsIndex.maintain(spark, ds)
    val fs = ds.fs(spark)
    val idx = StatsIndex.load(fs, ds.path).get
    val qr = fs.makeQualified(new org.apache.hadoop.fs.Path(ds.path)).toString
    val rels = ds.dataFiles(spark).map(f =>
      fs.makeQualified(new org.apache.hadoop.fs.Path(f)).toString.stripPrefix(qr + "/"))
    assert(rels.forall(idx.files.contains),
      "every live file (including the stats-less one) must be memoized")
    assert(idx.files.exists(_._2.isEmpty), "the id-less file gets an empty (tombstone) entry")
    // and it is never pruned
    val pruned = ds.pruned(spark, col("id") < 100L)
    assert(pruned.df(spark).count() >= 101, "tombstoned file must be kept in pruned scans")
  }

  test("unpartitioned compaction and in-place repartition keep both sidecars alive") {
    val ds = GraftDataset(tmpDir("graft_stats_compact"))
    val w = DatasetWriter(ds).withDeltaSubset("id").withBloomIndex
    // many small appends → fragmentation worth compacting
    (0 until 6).foreach(b => w.withMode(if (b == 0) WriteMode.Overwrite else WriteMode.Append)
      .write(spark, (b * 100 until (b + 1) * 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")))
    StatsIndex.build(spark, ds, Seq("id"))
    val stats = Repartition.compact(spark, ds, targetFileBytes = 1L << 30)
    assert(stats.filesAfter < stats.filesBefore, "compaction must merge files")
    assert(BloomIndex.load(ds.fs(spark), ds.path).nonEmpty,
      "bloom sidecar must survive the compaction root swap")
    val idx = StatsIndex.load(ds.fs(spark), ds.path)
    assert(idx.nonEmpty, "stats sidecar must be rebuilt after the root swap")
    // rebuilt over the COMPACTED files: delta still dedups, pruning works
    assert(DatasetWriter(ds, WriteMode.Delta).withDeltaSubset("id")
      .write(spark, Seq((5L, "v5"), (9999L, "new")).toDF("id", "v")) == 1)
  }

  test("IN-lists and isNull prune; partial extraction never prunes") {
    val ds = rangedDataset()
    StatsIndex.build(spark, ds, Seq("id"))
    val all = ds.dataFiles(spark).size

    // IN: both probe keys live in the first range-file → one file kept
    val inPred = col("id").isin(5L, 15L)
    val inPruned = ds.pruned(spark, inPred)
    assert(inPruned.files.size < all, s"IN must prune (${inPruned.files.size} of $all)")
    assert(inPruned.df(spark).filter(inPred).count() == 2)
    // spread probes hit several files but still prune the rest
    val spread = ds.pruned(spark, col("id").isin(5L, 405L, 795L))
    assert(spread.files.size < all && spread.files.size >= 3)
    assert(spread.df(spark).filter(col("id").isin(5L, 405L, 795L)).count() == 3)
    // Catalyst's InSet (the optimizer's form of a long IN list) keeps
    // the same files as the IN it came from
    val idx = StatsIndex.load(ds.fs(spark), ds.path).get
    val id = AttributeReference("id", LongType)()
    def keptBy(e: Expression): Int = idx.files.values.count(StatsIndex.compile(e).get)
    val inSetKept = keptBy(InSet(id, Set[Any](5L, 405L)))
    assert(inSetKept == keptBy(In(id, Seq(Literal(5L), Literal(405L)))))
    assert(inSetKept == 2, s"InSet must prune ($inSetKept of ${idx.files.size})")

    // isNull: nulls live ONLY in the appended file; the original files
    // record zero nulls and are pruned for an IS NULL probe
    val ds2 = GraftDataset(tmpDir("graft_stats_null"))
    DatasetWriter(ds2, WriteMode.Overwrite).write(spark,
      (0 until 100).map(i => (i.toLong, java.lang.Long.valueOf(i.toLong))).toDF("id", "opt"))
    DatasetWriter(ds2, WriteMode.Append).write(spark,
      Seq[(Long, java.lang.Long)]((100L, null), (101L, 7L)).toDF("id", "opt"))
    StatsIndex.build(spark, ds2, Seq("id", "opt"))
    val nullPruned = ds2.pruned(spark, col("opt").isNull)
    assert(nullPruned.files.size < ds2.dataFiles(spark).size, "zero-null files must be pruned")
    assert(nullPruned.df(spark).filter(col("opt").isNull).count() == 1)
    // isNotNull prunes only PROVABLY valueless files (all-null markers,
    // zero-row part files); mixed files always survive — same answer
    val nn = ds2.pruned(spark, col("opt").isNotNull)
    assert(nn.df(spark).filter(col("opt").isNotNull).count() ==
      ds2.df(spark).filter(col("opt").isNotNull).count())
  }

  test("windowed delta composes with the index: pruned existing side, same semantics") {
    val ds = GraftDataset(tmpDir("graft_stats_wdelta"))
    def mk(day: Int, ids: Range) = ids.map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00"))).toDF("id", "ts")
    DatasetWriter(ds, WriteMode.Overwrite).write(spark, mk(1, 0 until 100))
    DatasetWriter(ds, WriteMode.Append).write(spark, mk(20, 100 until 200))
    StatsIndex.build(spark, ds, Seq("ts"))
    // the optimization must actually FIRE, not just stay superset-safe:
    // the Jan-20 window predicate drops the Jan-1 file from the listing
    val win = col("ts").between(
      lit(java.sql.Timestamp.valueOf("2024-01-20 00:00:00")),
      lit(java.sql.Timestamp.valueOf("2024-01-20 00:00:00")))
    assert(ds.pruned(spark, win).files.size < ds.dataFiles(spark).size,
      "the window predicate must prune the out-of-window file")
    // batch overlapping ONLY the Jan-20 region: the existing-side scan
    // prunes the Jan-1 file via the sidecar; semantics must equal the
    // unpruned anti-diff — overlap dedups, the rest lands
    val n = DatasetWriter(ds, WriteMode.Delta).withDeltaWindow("ts")
      .write(spark, mk(20, 150 until 250))
    assert(n == 50, s"windowed delta over a pruned existing side wrote $n, want 50")
    assert(ds.df(spark).count() == 250)
    // idempotent re-run stays a no-op through the pruned path too
    assert(DatasetWriter(ds, WriteMode.Delta).withDeltaWindow("ts")
      .write(spark, mk(20, 150 until 250)) == 0)
  }

  test("pre-null-count (5-field) sidecars still load, with nulls unknown") {
    val ds = rangedDataset()
    val fs = ds.fs(spark)
    val out = fs.create(StatsIndex.sidecar(ds.path), true)
    try out.write(("graft-stats-v1\tid\n" +
      "f0.parquet\tid\tl\t0\t99\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val idx = StatsIndex.load(fs, ds.path)
    assert(idx.nonEmpty, "old-format sidecar must still load (maintain would die silently)")
    val r = idx.get.files("f0.parquet")("id")
    assert(r.min == BigDecimal(0) && r.max == BigDecimal(99) && r.nulls == -1L,
      "old-format entries carry unknown null counts")
    // unknown nulls keep the file for IS NULL probes (never a wrong prune)
    assert(StatsIndex.prunedFiles(fs, ds.path, idx.get,
      Seq(ds.path + "/f0.parquet"), col("id").isNull).nonEmpty)
  }

  test("all-null files carry markers: IS NOT NULL, comparisons, and IN prune them") {
    val ds = GraftDataset(tmpDir("graft_stats_allnull"))
    // file A: values; file B: opt entirely null; file C: mixed
    Seq[(Long, java.lang.Long)]((0L, 1L), (1L, 2L)).toDF("id", "opt")
      .coalesce(1).write.mode("append").parquet(ds.path)
    Seq[(Long, java.lang.Long)]((2L, null), (3L, null)).toDF("id", "opt")
      .coalesce(1).write.mode("append").parquet(ds.path)
    Seq[(Long, java.lang.Long)]((4L, null), (5L, 9L)).toDF("id", "opt")
      .coalesce(1).write.mode("append").parquet(ds.path)
    StatsIndex.build(spark, ds, Seq("id", "opt"))
    val all = ds.dataFiles(spark).size
    assert(all == 3)

    // IS NOT NULL drops the provably-all-null file, keeps A and C
    val nn = ds.pruned(spark, col("opt").isNotNull)
    assert(nn.files.size == 2, s"all-null file must drop for IS NOT NULL (${nn.files.size})")
    assert(nn.df(spark).filter(col("opt").isNotNull).count() == 3)

    // comparisons and IN never match NULL — the marker file drops there too
    val cmp = ds.pruned(spark, col("opt") >= 1L)
    assert(cmp.files.size == 2, "all-null file must drop for a comparison")
    assert(cmp.df(spark).filter(col("opt") >= 1L).count() == 3)
    val in = ds.pruned(spark, col("opt").isin(1L, 9L))
    assert(in.files.size == 2, "all-null file must drop for IN")
    assert(in.df(spark).filter(col("opt").isin(1L, 9L)).count() == 2)

    // IS NULL keeps the marker file (and drops the zero-null file A)
    val isn = ds.pruned(spark, col("opt").isNull)
    assert(isn.files.size == 2, "IS NULL must keep marker + mixed, drop zero-null")
    assert(isn.df(spark).filter(col("opt").isNull).count() == 3)

    // markers round-trip the sidecar (this read went through load once
    // already via pruned; assert the kind survives explicitly)
    val idx = StatsIndex.load(ds.fs(spark), ds.path).get
    assert(idx.files.values.exists(_.get("opt").exists(_.kind == "nulls")),
      "the all-null file must serialize a 'nulls' marker range")
  }

  test("string bounds prune; comparisons are UTF-8 byte order, not UTF-16") {
    val ds = GraftDataset(tmpDir("graft_stats_str"))
    val df = (0 until 800).map(i => (i.toLong, f"k$i%04d")).toDF("id", "k")
    DatasetWriter(ds, WriteMode.Overwrite)
      .write(spark, df.repartitionByRange(8, col("k")))
    StatsIndex.build(spark, ds, Seq("k"))
    val all = ds.dataFiles(spark).size
    assert(all == 8)

    val pred = col("k") >= "k0100" && col("k") < "k0300"
    val pruned = ds.pruned(spark, pred)
    assert(pruned.files.nonEmpty && pruned.files.size < all,
      s"string range must prune (kept ${pruned.files.size} of $all)")
    assert(pruned.df(spark).filter(pred).count() == ds.df(spark).filter(pred).count())

    val inPred = col("k").isin("k0005", "k0015")
    val inPruned = ds.pruned(spark, inPred)
    assert(inPruned.files.size < all, "string IN must prune")
    assert(inPruned.df(spark).filter(inPred).count() == 2)

    // ORDER SEMANTICS: U+FFFD sorts BELOW U+10000 in UTF-8 bytes (EF..
    // vs F0..) but ABOVE it in Java-String UTF-16 units (FFFD vs the
    // D800 surrogate) — an implementation comparing decoded Strings
    // would prune the supplementary-plane file for this predicate and
    // lose its rows. Tab/newline values also round-trip the sidecar
    // (base64) without breaking the TSV format.
    val ds2 = GraftDataset(tmpDir("graft_stats_utf"))
    Seq(("�-replacement", 1L)).toDF("k", "id").write.mode("append").parquet(ds2.path)
    Seq(("𐀀-supplementary", 2L)).toDF("k", "id").write.mode("append").parquet(ds2.path)
    Seq(("tab\there\nand-newline", 3L)).toDF("k", "id").write.mode("append").parquet(ds2.path)
    StatsIndex.build(spark, ds2, Seq("k"))
    val p2 = col("k") >= "𐀀" // bytes F0 90 80 80
    val kept = ds2.pruned(spark, p2)
    assert(kept.df(spark).filter(p2).count() == ds2.df(spark).filter(p2).count(),
      "byte-order pruning must keep every Spark-matching row")
    // and it actually fires: the low-ASCII tab file is prunable — while
    // the supplementary-plane file (which UTF-16 comparison would
    // wrongly rank BELOW the probe and drop) must survive
    val p3 = col("k") >= "�"
    val kept3 = ds2.pruned(spark, p3)
    assert(kept3.files.size < ds2.dataFiles(spark).size,
      "UTF-8-ordered prune must drop the ASCII file")
    assert(kept3.df(spark).filter(p3).count() == ds2.df(spark).filter(p3).count(),
      "supplementary-plane file must be kept for a >= U+FFFD probe")
  }

  test("widened (spec-truncated) string bounds never prune wrongly") {
    val ds = rangedDataset() // has string col "v" = s"v$i"
    StatsIndex.build(spark, ds, Seq("id", "v"))
    val fs = ds.fs(spark)
    val idx = StatsIndex.load(fs, ds.path).get
    // simulate a spec-compliant truncating writer: min cut to a prefix
    // (valid lower bound), max cut with its last byte incremented
    // (valid upper bound) — the exact shape parquet-mr's
    // BinaryTruncator produces for long binary values
    val widened = StatsIndex.Index(idx.cols, idx.files.map { case (f, byCol) =>
      f -> byCol.map {
        case (c, r) if r.kind == "s" && r.smin.length > 1 && r.smax.length > 1 =>
          val mx = r.smax.take(2); mx(1) = (mx(1) + 1).toByte
          c -> r.copy(smin = r.smin.take(2), smax = mx)
        case kv => kv
      }
    })
    StatsIndex.write(fs, ds.path, widened)
    val all = ds.dataFiles(spark).size
    for (probe <- Seq("v100", "v42", "v7", "zzz", "")) {
      val p = col("v") === probe
      val got = ds.pruned(spark, p).df(spark).filter(p).count()
      assert(got == ds.df(spark).filter(p).count(),
        s"widened bounds lost rows for probe '$probe'")
    }
    // widening loses precision but not the whole point: a probe far
    // outside every 2-byte-widened range still prunes
    assert(ds.pruned(spark, col("v") === "zzz").files.size < all)
  }

  test("corrupt sidecar loads as absent; build heals it") {
    val ds = rangedDataset()
    StatsIndex.build(spark, ds, Seq("id"))
    val fs = ds.fs(spark)
    val out = fs.create(StatsIndex.sidecar(ds.path), true)
    try out.write("not-a-stats-index".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    assert(StatsIndex.load(fs, ds.path).isEmpty, "corrupt sidecar must read as absent")
    assert(ds.pruned(spark, col("id") < 10L).files.isEmpty, "no sidecar → dataset unchanged")
    StatsIndex.build(spark, ds, Seq("id"))
    assert(StatsIndex.load(fs, ds.path).nonEmpty)
  }

  test("maintain is O(new files): each write appends one segment, root untouched") {
    val ds = rangedDataset()
    StatsIndex.build(spark, ds, Seq("id"))
    val fs = ds.fs(spark)
    val root0 = fs.getFileStatus(StatsIndex.sidecar(ds.path))
    // three maintained appends (DatasetWriter calls maintain itself)
    (0 until 3).foreach { i =>
      DatasetWriter(ds, WriteMode.Append).write(spark,
        Seq((20000L + i, 0.0, "x")).toDF("id", "score", "v"))
    }
    val segs = fs.listStatus(StatsIndex.segDir(ds.path))
      .filter(_.getPath.getName.startsWith("seg-"))
    assert(segs.length == 3, s"expected one segment per write, saw ${segs.length}")
    val root1 = fs.getFileStatus(StatsIndex.sidecar(ds.path))
    assert(root1.getModificationTime == root0.getModificationTime &&
      root1.getLen == root0.getLen,
      "an ingest batch must not rewrite the O(total-files) root")
    // the effective index covers every file, and the new files prune
    val idx = StatsIndex.load(fs, ds.path).get
    assert(idx.files.size == ds.dataFiles(spark).size)
    val cachedIdx = StatsIndex.loadCached(fs, ds.path).get
    assert(cachedIdx.files.keySet == idx.files.keySet,
      "cached load must see the same effective index")
    val pruned = ds.pruned(spark, col("id") < 100L)
    assert(pruned.files.size < ds.dataFiles(spark).size,
      "post-append queries must prune the out-of-range appended files")
    assert(pruned.df(spark).filter(col("id") < 100L).count() == 100)
    // a write with no unseen files writes nothing
    val segCount = segs.length
    StatsIndex.maintain(spark, ds)
    assert(fs.listStatus(StatsIndex.segDir(ds.path))
      .count(_.getPath.getName.startsWith("seg-")) == segCount,
      "a no-change maintain must not mint a segment")
  }

  test("a corrupt segment degrades to unpruned files, never a broken index") {
    val ds = rangedDataset()
    StatsIndex.build(spark, ds, Seq("id"))
    val fs = ds.fs(spark)
    // two maintained appends → two segments
    (0 until 2).foreach { i =>
      DatasetWriter(ds, WriteMode.Append).write(spark,
        Seq((40000L + i, 0.0, "x")).toDF("id", "score", "v"))
    }
    val segs = fs.listStatus(StatsIndex.segDir(ds.path))
      .filter(_.getPath.getName.startsWith("seg-")).map(_.getPath).sortBy(_.getName)
    assert(segs.length == 2)
    // corrupt the FIRST segment in place (crash-mid-write shape)
    val out = fs.create(segs.head, true)
    try out.write("garbage".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // the index still loads: root + the healthy segment
    val idx = StatsIndex.load(fs, ds.path).get
    assert(idx.files.size == ds.dataFiles(spark).size - 1,
      "exactly the corrupt segment's file must lose its entry")
    // ...and pruning answers stay exact: the uncovered file is KEPT
    val pred = col("id") === 40000L || col("id") === 40001L
    val got = ds.pruned(spark, pred).df(spark).filter(pred).count()
    assert(got == 2, s"rows behind the corrupt segment must survive pruning, saw $got")
    // a later maintained write re-indexes the uncovered file (it reads
    // as unseen) — the index self-heals
    DatasetWriter(ds, WriteMode.Append).write(spark,
      Seq((40002L, 0.0, "x")).toDF("id", "score", "v"))
    val healed = StatsIndex.load(fs, ds.path).get
    assert(healed.files.size == ds.dataFiles(spark).size,
      "maintain must re-index files a corrupt segment dropped")
  }

  test("segment count is bounded: the CompactAt-th write folds into the root") {
    val ds = rangedDataset()
    StatsIndex.build(spark, ds, Seq("id"))
    val fs = ds.fs(spark)
    (0 until StatsIndex.CompactAt).foreach { i =>
      DatasetWriter(ds, WriteMode.Append).write(spark,
        Seq((30000L + i, 0.0, "x")).toDF("id", "score", "v"))
    }
    // the CompactAt-th maintained write folded root+segments → no segments left
    val segsAfter =
      if (!fs.exists(StatsIndex.segDir(ds.path))) 0
      else fs.listStatus(StatsIndex.segDir(ds.path))
        .count(_.getPath.getName.startsWith("seg-"))
    assert(segsAfter < StatsIndex.CompactAt - 1,
      s"compaction must bound segment count, saw $segsAfter")
    val idx = StatsIndex.load(fs, ds.path).get
    assert(idx.files.size == ds.dataFiles(spark).size,
      "the folded root must cover every live file")
    // and pruning still answers correctly across the fold
    val pred = col("id") >= 30000L
    val pruned = ds.pruned(spark, pred)
    assert(pruned.files.size < ds.dataFiles(spark).size)
    assert(pruned.df(spark).filter(pred).count() == StatsIndex.CompactAt.toLong)
  }
}
