package graft.ds

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class DatasetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_test_").toString

  test("write modes: raise / overwrite / append (writer.py:185-256)") {
    val dir = tmp() + "/ds"
    val ds = GraftDataset(dir)
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    assert(DatasetWriter(ds, WriteMode.Raise).write(spark, df) == 2)
    intercept[IllegalStateException](DatasetWriter(ds, WriteMode.Raise).write(spark, df))
    assert(DatasetWriter(ds, WriteMode.Append).write(spark, df) == 2)
    assert(ds.df(spark).count() == 4)
    assert(DatasetWriter(ds, WriteMode.Overwrite).write(spark, df) == 2)
    assert(ds.df(spark).count() == 2)
  }

  test("delta mode is idempotent (W6: write(t); write(t) ⇒ unchanged)") {
    val dir = tmp() + "/delta"
    val ds = GraftDataset(dir)
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    assert(DatasetWriter(ds, WriteMode.Delta).write(spark, df) == 3)
    assert(DatasetWriter(ds, WriteMode.Delta).write(spark, df) == 0)
    assert(ds.df(spark).count() == 3)
  }

  test("delta with subset keys: only new keys land") {
    val dir = tmp() + "/delta2"
    val ds = GraftDataset(dir)
    DatasetWriter(ds, WriteMode.Delta).withDeltaSubset("k")
      .write(spark, Seq((1, "a"), (2, "b")).toDF("k", "v"))
    val n = DatasetWriter(ds, WriteMode.Delta).withDeltaSubset("k")
      .write(spark, Seq((2, "CHANGED"), (3, "c")).toDF("k", "v"))
    assert(n == 1) // only k=3 is new; k=2 exists (payload change ignored by key-delta)
    val rows = ds.df(spark).orderBy("k").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq == Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("delta with datetime window bounds the comparison (writer.py:196-240)") {
    val dir = tmp() + "/delta3"
    val ds = GraftDataset(dir)
    val base = Seq(
      (1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))).toDF("k", "ts")
    DatasetWriter(ds, WriteMode.Delta).write(spark, base)
    // incoming overlaps day 2 only; row (2,…) is a dup inside the window
    val inc = Seq(
      (2, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      (9, java.sql.Timestamp.valueOf("2024-01-02 06:00:00"))).toDF("k", "ts")
    val n = DatasetWriter(ds, WriteMode.Delta).withDeltaWindow("ts").write(spark, inc)
    assert(n == 1)
    assert(ds.df(spark).count() == 3)
  }

  test("delta mode stays idempotent for rows and keys containing NULLs") {
    val out = tmp() + "/ds"
    val df = Seq((Some(1L), Some("a")), (None, Some("b")), (Some(3L), None))
      .toDF("k", "v")
    val ds = GraftDataset(out)
    DatasetWriter(ds, WriteMode.Delta).write(spark, df)
    // full-row delta of identical data (incl. NULL columns) is a no-op
    val n2 = DatasetWriter(ds, WriteMode.Delta).write(spark, df)
    assert(n2 == 0L, s"null rows re-appended: $n2")
    // keyed delta with a NULL key must also be a no-op
    val n3 = DatasetWriter(ds, WriteMode.Delta).withDeltaSubset("k")
      .write(spark, df.withColumn("v", org.apache.spark.sql.functions.lit("changed")))
    assert(n3 == 0L, s"null keys re-appended: $n3")
    assert(ds.df(spark).count() == 3)
  }

  test("upsert replaces matched keys, appends new ones, first-write appends (W12)") {
    val out = tmp() + "/upsert"
    val ds = GraftDataset(out)
    // first write on an empty target = plain write
    val w = DatasetWriter(ds, WriteMode.Upsert).withDeltaSubset("k")
    assert(w.write(spark, Seq((1, "a"), (2, "b")).toDF("k", "v")) == 2)
    // merge: replace k=2, insert k=3
    val n = w.write(spark, Seq((2, "B2"), (3, "c")).toDF("k", "v"))
    assert(n == 3) // rows in the rewritten dataset
    val back = ds.df(spark).as[(Int, String)].collect().toMap
    assert(back == Map(1 -> "a", 2 -> "B2", 3 -> "c"), back)
    // null-safe: a NULL key replaces the NULL-key row, not re-appends
    val w2 = DatasetWriter(GraftDataset(out + "2"), WriteMode.Upsert).withDeltaSubset("k")
    w2.write(spark, Seq((Some(1), "a"), (None, "x")).toDF("k", "v"))
    w2.write(spark, Seq((Option.empty[Int], "y")).toDF("k", "v"))
    val back2 = GraftDataset(out + "2").df(spark).collect()
      .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0)) -> r.getString(1)).toMap
    assert(back2 == Map(1 -> "a", -1 -> "y"), back2)
    // missing keys → loud failure even on an EMPTY target (a key-less
    // pipeline must not succeed once and only break on the second run)
    intercept[IllegalArgumentException] {
      DatasetWriter(GraftDataset(out + "3"), WriteMode.Upsert)
        .write(spark, Seq((9, "z")).toDF("k", "v"))
    }
    // a narrower batch must fail, not silently erase the missing column
    intercept[IllegalArgumentException] {
      DatasetWriter(ds, WriteMode.Upsert).withDeltaSubset("k")
        .write(spark, Seq(Tuple1(2)).toDF("k"))
    }
  }

  test("upsert on a hive-partitioned target rewrites only affected partitions") {
    val out = tmp() + "/upsert_part"
    val ds = GraftDataset(out, partitioning = Seq("p"))
    val w = DatasetWriter(ds, WriteMode.Upsert).withDeltaSubset("k")
    w.write(spark, Seq((1, "a", "x"), (2, "b", "x"), (3, "c", "y"), (4, "d", "z"))
      .toDF("k", "v", "p"))

    val fs = ds.fs(spark)
    def partFiles(p: String): Map[String, Long] = {
      val d = new org.apache.hadoop.fs.Path(out, s"p=$p")
      if (!fs.exists(d)) Map.empty
      else fs.listStatus(d).filter(_.isFile).map(s =>
        s.getPath.getName -> s.getModificationTime).toMap
    }
    val zBefore = partFiles("z")
    val yBefore = partFiles("y")
    assert(zBefore.nonEmpty && yBefore.nonEmpty)

    // replace k=2 (stays in p=x), MOVE k=3 from p=y to p=x, insert k=5
    // into p=w — p=z holds no incoming partition and no matched key, so
    // its files must remain byte-identical (same names, same mtimes)
    Thread.sleep(20) // mtime granularity guard
    w.write(spark, Seq((2, "B2", "x"), (3, "C2", "x"), (5, "e", "w"))
      .toDF("k", "v", "p"))

    assert(partFiles("z") == zBefore, "untouched partition was rewritten")
    // p=y's only row moved away — the emptied partition must not keep a
    // stale copy of k=3
    assert(partFiles("y").isEmpty, s"stale partition survived: ${partFiles("y")}")
    val back = ds.df(spark).collect()
      .map(r => (r.getInt(0), (r.getString(1), r.getString(2)))).toMap
    assert(back == Map(1 -> ("a", "x"), 2 -> ("B2", "x"), 3 -> ("C2", "x"),
      4 -> ("d", "z"), 5 -> ("e", "w")), back)
  }

  test("partition-scoped upsert keeps a partition whose matched row moved but others remain") {
    val out = tmp() + "/upsert_part2"
    val ds = GraftDataset(out, partitioning = Seq("p"))
    val w = DatasetWriter(ds, WriteMode.Upsert).withDeltaSubset("k")
    w.write(spark, Seq((1, "a", "y"), (2, "b", "y")).toDF("k", "v", "p"))
    // k=1 moves y→x; k=2 must survive in the rewritten p=y
    w.write(spark, Seq((1, "A2", "x")).toDF("k", "v", "p"))
    val back = ds.df(spark).collect()
      .map(r => (r.getInt(0), (r.getString(1), r.getString(2)))).toMap
    assert(back == Map(1 -> ("A2", "x"), 2 -> ("b", "y")), back)
  }

  test("partition-scoped upsert survives a non-broadcast key join (input_file_name below the shuffle)") {
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = tmp() + "/upsert_smj"
      val ds = GraftDataset(out, partitioning = Seq("p"))
      val w = DatasetWriter(ds, WriteMode.Upsert).withDeltaSubset("k")
      w.write(spark, Seq((1, "a", "x"), (2, "b", "y")).toDF("k", "v", "p"))
      // forces SortMergeJoin for the matched-keys semi join: the file
      // path must still come from the scan stage, not an empty string
      w.write(spark, Seq((2, "B2", "y"), (3, "c", "z")).toDF("k", "v", "p"))
      val back = ds.df(spark).collect()
        .map(r => (r.getInt(0), (r.getString(1), r.getString(2)))).toMap
      assert(back == Map(1 -> ("a", "x"), 2 -> ("B2", "y"), 3 -> ("c", "z")), back)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("partition values that read back at an inferred type still upsert (type gate exempts partition cols)") {
    val out = tmp() + "/upsert_ptype"
    val ds = GraftDataset(out, partitioning = Seq("p"))
    val w = DatasetWriter(ds, WriteMode.Upsert).withDeltaSubset("k")
    // p written as STRING "10"/"20" → directories p=10/p=20 read back as INT
    w.write(spark, Seq((1, "a", "10"), (2, "b", "20")).toDF("k", "v", "p"))
    w.write(spark, Seq((2, "B2", "20")).toDF("k", "v", "p"))
    val back = ds.df(spark).collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    assert(back == Map(1 -> "a", 2 -> "B2"), back)
  }

  /** (k, v, p) of every live row, sorted. */
  private def kvp(ds: GraftDataset): Seq[(Int, String, String)] =
    ds.df(spark).select("k", "v", "p").as[(Int, String, String)].collect().toSeq.sorted

  test("partition-scoped upsert moves a key out of a partition whose value has a space") {
    val out = tmp() + "/upsert_space_val"
    val ds = GraftDataset(out, partitioning = Seq("p"))
    val w = DatasetWriter(ds, WriteMode.Upsert).withDeltaSubset("k")
    w.write(spark, Seq((1, "v1", "a b"), (2, "v2", "x")).toDF("k", "v", "p"))
    assert(ds.fs(spark).exists(new org.apache.hadoop.fs.Path(out, "p=a b")))
    // k=1 moves from the on-disk dir `p=a b` (emptied) to p=x
    w.write(spark, Seq((1, "V1", "x")).toDF("k", "v", "p"))
    assert(kvp(ds) == Seq((1, "V1", "x"), (2, "v2", "x")))
    assert(!ds.fs(spark).exists(new org.apache.hadoop.fs.Path(out, "p=a b")),
      "the emptied partition must be deleted")
  }

  test("partition-scoped upsert under a dataset root whose path has a space") {
    val out = tmp() + "/sp ace/ds"
    val ds = GraftDataset(out, partitioning = Seq("p"))
    val w = DatasetWriter(ds, WriteMode.Upsert).withDeltaSubset("k")
    w.write(spark, Seq((1, "a", "x"), (2, "b", "y")).toDF("k", "v", "p"))
    // k=1 moves x → z, k=2 is replaced in place
    w.write(spark, Seq((1, "A", "z"), (2, "B", "y")).toDF("k", "v", "p"))
    assert(kvp(ds) == Seq((1, "A", "z"), (2, "B", "y")))
    assert(!ds.fs(spark).exists(new org.apache.hadoop.fs.Path(out, "p=x")))
  }

  test("partition-scoped upsert finds a key that moves out of a partition the batch omits") {
    val out = tmp() + "/upsert_moved_outside"
    val ds = GraftDataset(out, partitioning = Seq("p"))
    val w = DatasetWriter(ds, WriteMode.Upsert).withDeltaSubset("k")
    w.write(spark, Seq((1, "a", "x"), (2, "b", "x"), (3, "c", "y"), (4, "d", "z"))
      .toDF("k", "v", "p"))
    val fs = ds.fs(spark)
    def files(p: String): Map[String, Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(out, s"p=$p")).filter(_.isFile)
        .map(s => s.getPath.getName -> s.getModificationTime).toMap
    val zBefore = files("z")
    Thread.sleep(20) // mtime granularity guard
    // the batch names only p=w: k=1 leaves p=x, which the batch omits,
    // k=3 empties p=y, and p=z holds no matched key
    w.write(spark, Seq((1, "A", "w"), (3, "C", "w")).toDF("k", "v", "p"))
    assert(kvp(ds) == Seq((1, "A", "w"), (2, "b", "x"), (3, "C", "w"), (4, "d", "z")))
    assert(files("z") == zBefore, "a partition without matched keys was rewritten")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(out, "p=y")), "emptied p=y survived")
  }

  test("partition-scoped upsert swaps two keys between two partitions of the batch") {
    val out = tmp() + "/upsert_swap_in_batch"
    val ds = GraftDataset(out, partitioning = Seq("p"))
    val w = DatasetWriter(ds, WriteMode.Upsert).withDeltaSubset("k")
    w.write(spark, Seq((1, "a", "x"), (2, "b", "y"), (3, "c", "x")).toDF("k", "v", "p"))
    // both partitions are in the batch, so no key can live outside it
    w.write(spark, Seq((1, "A", "y"), (2, "B", "x")).toDF("k", "v", "p"))
    val back = kvp(ds)
    assert(back == Seq((1, "A", "y"), (2, "B", "x"), (3, "c", "x")), back)
    assert(back.map(_._1).distinct.size == back.size, s"a key is live twice: $back")
  }

  test("vacuum restores a crashed per-partition swap and deletes leftover partition backups") {
    val out = tmp() + "/vac_part"
    val ds = GraftDataset(out, partitioning = Seq("p"))
    DatasetWriter(ds, WriteMode.Overwrite)
      .write(spark, Seq((1, "a", "x"), (2, "b", "y")).toDF("k", "v", "p"))
    val f = ds.fs(spark)
    val root = new org.apache.hadoop.fs.Path(out)
    // crash shape 1: p=x renamed to its backup, replacement never landed
    assert(f.rename(new org.apache.hadoop.fs.Path(root, "p=x"),
      new org.apache.hadoop.fs.Path(root, ".p=x__swap_old")))
    // crash shape 2: leftover backup beside a live p=y
    val leftover = new org.apache.hadoop.fs.Path(root, ".p=y__swap_old")
    f.mkdirs(leftover)
    ds.vacuum(spark)
    assert(f.exists(new org.apache.hadoop.fs.Path(root, "p=x")), "crashed partition not restored")
    assert(!f.exists(leftover), "leftover partition backup not cleaned")
    assert(ds.df(spark).count() == 2)
  }

  test("FLOAT16 parquet fails at footer pre-flight with a graft error, not PARQUET_TYPE_ILLEGAL") {
    // fixture written by pyarrow (src/test/resources/float16_fixture.parquet):
    // id int64, h float16 — the lattice rung Spark 4.1 cannot read
    val dir = tmp() + "/f16"
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.copy(
      getClass.getResourceAsStream("/float16_fixture.parquet"),
      java.nio.file.Paths.get(dir, "part-0.parquet"))
    val e = intercept[IllegalArgumentException](GraftDataset(dir).df(spark).count())
    assert(e.getMessage.contains("FLOAT16") && e.getMessage.contains("h"), e.getMessage)
    assert(e.getMessage.contains("SCALE.md"), e.getMessage)
  }

  test("FLOAT16 among more than 64 files fails with the same graft error on the distributed footer sweep") {
    val dir = tmp() + "/f16_many"
    // 65 one-row files push the footer sweep past the 64-file driver-side limit
    spark.range(0, 65, 1, 65).write.parquet(dir)
    java.nio.file.Files.copy(
      getClass.getResourceAsStream("/float16_fixture.parquet"),
      java.nio.file.Paths.get(dir, "part-f16.parquet"))
    assert(GraftDataset(dir).dataFiles(spark).size == 66)
    val e = intercept[IllegalArgumentException](GraftDataset(dir).df(spark).count())
    assert(e.getMessage.contains("FLOAT16") && e.getMessage.contains("h"), e.getMessage)
    assert(e.getMessage.contains("SCALE.md"), e.getMessage)
  }

  test("vacuum removes only crashed-rewrite staging dirs, keeps data") {
    val out = tmp() + "/vac"
    val ds = GraftDataset(out)
    DatasetWriter(ds, WriteMode.Overwrite).write(spark, Seq(1, 2, 3).toDF("k"))
    val f = ds.fs(spark)
    val parent = new org.apache.hadoop.fs.Path(out).getParent
    // simulate leftovers from a crashed rewrite: staging + root backup
    val staging = Commit.stagingOf(new org.apache.hadoop.fs.Path(out))
    Seq(staging, new org.apache.hadoop.fs.Path(parent, ".vac__swap_old")).foreach(f.mkdirs)
    f.mkdirs(new org.apache.hadoop.fs.Path(parent, "unrelated_dir"))
    val deleted = ds.vacuum(spark)
    assert(deleted.size == 2, deleted)
    assert(!f.exists(staging))
    assert(f.exists(new org.apache.hadoop.fs.Path(parent, "unrelated_dir")))
    assert(ds.df(spark).count() == 3) // data untouched
  }

  test("json and orc datasets roundtrip through the generic format path") {
    val jout = tmp() + "/j"
    val jds = GraftDataset(jout, format = "json")
    DatasetWriter(jds, WriteMode.Overwrite).write(spark, Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(jds.dataFiles(spark).nonEmpty, "json files invisible to dataFiles")
    assert(jds.df(spark).count() == 2)
    val oout = tmp() + "/o"
    val ods = GraftDataset(oout, format = "orc") // zstd stays zstd for orc
    DatasetWriter(ods, WriteMode.Overwrite).write(spark, Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(ods.dataFiles(spark).nonEmpty, "orc files invisible to dataFiles")
    assert(ods.df(spark).count() == 2)
  }

  test("delta mode detects existing data for compressed csv datasets") {
    val out = tmp() + "/ds"
    val ds = GraftDataset(out, format = "csv") // zstd→gzip → part-*.csv.gz
    val df = Seq((1, "x"), (2, "y")).toDF("k", "v")
    DatasetWriter(ds, WriteMode.Delta).write(spark, df)
    assert(ds.dataFiles(spark).nonEmpty, "csv.gz files invisible to dataFiles")
    val n2 = DatasetWriter(ds, WriteMode.Delta).write(spark, df)
    assert(n2 == 0L, "existing csv.gz dataset not detected; delta re-appended")
  }

  test("schema-unify rewrite keeps hive partition placement") {
    val out = tmp() + "/ds"
    // two partitions, each holding a file with a narrower schema
    Seq((1, "A")).toDF("k", "p").write.partitionBy("p").parquet(out)
    Seq((2L, 9L, "B")).toDF("k", "extra", "p")
      .write.mode("append").partitionBy("p").parquet(out)
    val ds = GraftDataset(out)
    assert(DatasetWriter.unifySchemaRewrite(spark, ds))
    val back = spark.read.parquet(out) // partition discovery must still work
    assert(back.columns.toSet == Set("k", "extra", "p"))
    val rows = back.select("k", "p").as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "A"), (2L, "B")), s"partition values lost: $rows")
  }

  test("partitioned write: hive layout + row conservation (W4)") {
    val dir = tmp() + "/part"
    val ds = GraftDataset(dir, partitioning = Seq("p"))
    val df = (1 to 100).map(i => (i, s"p${i % 4}")).toDF("k", "p")
    assert(DatasetWriter(ds, WriteMode.Overwrite).write(spark, df) == 100)
    val f = ds.fs(spark)
    assert((0 to 3).forall(i => f.exists(new org.apache.hadoop.fs.Path(dir, s"p=p$i"))))
    assert(ds.df(spark).count() == 100)
  }

  test("time-interval batched write buckets land as partitions (W8)") {
    val dir = tmp() + "/timebatch"
    val ds = GraftDataset(dir)
    val df = (0 until 48).map(h =>
      (h, java.sql.Timestamp.valueOf(f"2024-01-${1 + h / 24}%02d ${h % 24}%02d:30:00"))).toDF("k", "ts")
    DatasetWriter(ds, WriteMode.Overwrite).withTimeBatch("ts", "1d").write(spark, df)
    val f = ds.fs(spark)
    assert(f.exists(new org.apache.hadoop.fs.Path(dir, "__time_bucket=20240101_000000")))
    assert(f.exists(new org.apache.hadoop.fs.Path(dir, "__time_bucket=20240102_000000")))
    assert(spark.read.parquet(dir).count() == 48)
  }

  test("upsert composes with time batching: bucket column is derived, not demanded") {
    val dir = tmp() + "/tb_upsert"
    val ds = GraftDataset(dir)
    def w = DatasetWriter(ds, WriteMode.Upsert)
      .withDeltaSubset("k").withTimeBatch("ts", "1d")
    val t = (d: Int) => java.sql.Timestamp.valueOf(f"2024-01-$d%02d 08:00:00")
    w.write(spark, Seq((1, t(1), "a"), (2, t(2), "b")).toDF("k", "ts", "v"))
    // second write enters the merge path: the read-back __time_bucket
    // partition column must not fail the schema-agreement gate, and a
    // replaced row re-buckets from its NEW timestamp
    w.write(spark, Seq((2, t(3), "b2"), (3, t(1), "c")).toDF("k", "ts", "v"))
    val out = ds.df(spark).select("k", "v").as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "a", 2 -> "b2", 3 -> "c"))
    val f = ds.fs(spark)
    assert(f.exists(new org.apache.hadoop.fs.Path(dir, "__time_bucket=20240103_000000")),
      "the replaced row moved to its new day bucket")
    assert(!f.exists(new org.apache.hadoop.fs.Path(dir, "__time_bucket=20240102_000000")),
      "its old bucket is gone with the merge rewrite")
  }

  private def dayRows(ks: Range) = ks.map(k =>
    (k, java.sql.Timestamp.valueOf(f"2024-01-${1 + k % 3}%02d 08:00:00"), k % 2)).toDF("k", "ts", "p")

  test("time-batched delta to an existing dataset lands its new rows, partitioned or not") {
    for (parts <- Seq(Nil, Seq("p"))) {
      val ds = GraftDataset(tmp() + "/tb_delta", partitioning = parts)
      def delta = DatasetWriter(ds, WriteMode.Delta).withDeltaSubset("k").withTimeBatch("ts", "1d")
      assert(delta.write(spark, dayRows(0 until 30)) == 30)
      assert(delta.write(spark, dayRows(20 until 50)) == 20, s"partitioning $parts")
      assert(ds.df(spark).count() == 50, s"partitioning $parts")
      assert(delta.write(spark, dayRows(0 until 50)) == 0)
      assert(ds.df(spark).count() == 50)
    }
  }

  test("time-batched append to a bloom-indexed dataset lands every row, keys in the filter") {
    val ds = GraftDataset(tmp() + "/tb_bloom")
    DatasetWriter(ds).withDeltaSubset("k").withBloomIndex.withTimeBatch("ts", "1d")
      .write(spark, dayRows(0 until 30))
    assert(DatasetWriter(ds).withTimeBatch("ts", "1d").write(spark, dayRows(30 until 45)) == 15)
    val live = ds.df(spark)
    assert(live.count() == 45)
    val idx = BloomIndex.load(ds.fs(spark), ds.path).get
    assert(live.filter(!BloomIndex.mightContain(idx)).count() == 0)
    assert(DatasetWriter(ds, WriteMode.Delta).withDeltaSubset("k").withTimeBatch("ts", "1d")
      .write(spark, dayRows(0 until 45)) == 0)
  }

  test("time-batched move into an existing dataset keeps every row before deleting the source") {
    val src = GraftDataset(tmp() + "/tb_src")
    val dest = GraftDataset(tmp() + "/tb_dest")
    DatasetWriter(src).write(spark, dayRows(0 until 40))
    DatasetWriter(dest).withTimeBatch("ts", "1d").write(spark, dayRows(0 until 10))
    val n = Repartition.run(spark, src, dest, mode = WriteMode.Delta,
      timeBatch = Some(("ts", "1d")), deleteSource = true)
    assert(n == 30)
    assert(dest.df(spark).count() == 40)
    assert(!src.exists(spark))
  }

  test("a staged append with a data file at the wrong depth promotes nothing") {
    val root = new org.apache.hadoop.fs.Path(tmp() + "/misplaced")
    val staged = new org.apache.hadoop.fs.Path(tmp() + "/staged")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    fs.create(new org.apache.hadoop.fs.Path(staged, "p=1/a.parquet")).close()
    fs.create(new org.apache.hadoop.fs.Path(staged, "b.parquet")).close()
    intercept[IllegalStateException](Commit.appendStaged(fs, staged, root, 1))
    assert(fs.listStatus(root).isEmpty, "nothing moved")
    assert(fs.exists(new org.apache.hadoop.fs.Path(staged, "p=1/a.parquet")), "staging kept")
  }

  test("raise succeeds over a sidecar-only directory (its own exists-check decides)") {
    val dir = tmp() + "/raise_sidecar"
    val fs = GraftDataset(dir).fs(spark)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    // a root holding only an index sidecar has no data — graft's raise
    // semantics allow the write; Spark's ErrorIfExists would not
    BloomIndex.write(fs, dir, BloomIndex.Index(Seq("k"), 1024, 0.01,
      { val b = org.apache.spark.util.sketch.BloomFilter.create(1024, 0.01)
        val bos = new java.io.ByteArrayOutputStream(); b.writeTo(bos); bos.toByteArray },
      inserted = 0))
    val n = DatasetWriter(GraftDataset(dir), WriteMode.Raise)
      .write(spark, Seq((1, "a")).toDF("k", "v"))
    assert(n == 1 && GraftDataset(dir).df(spark).count() == 1)
  }

  test("dedup tolerates unorderable (map) payload columns") {
    val dir = tmp() + "/map_dedup"
    val df = Seq(
      (1L, 2, Map("a" -> "x")),
      (1L, 1, Map("b" -> "y")),
      (2L, 5, Map("c" -> "z"))).toDF("id", "ord", "meta")
    df.write.parquet(dir)
    val out = GraftDataset(dir)
      .withDedup(Seq("id"), SortSpec.asc("ord"))
      .df(spark)
      .select("id", "ord").as[(Long, Int)].collect().toSet
    assert(out == Set((1L, 1), (2L, 5)),
      "keep-first under presort must survive a map column in the payload")
  }

  test("count batching bounds file sizes via maxRecordsPerFile (W7)") {
    val dir = tmp() + "/batch"
    val ds = GraftDataset(dir)
    val df = (1 to 1000).toDF("k").coalesce(1)
    DatasetWriter(ds, WriteMode.Overwrite).withBatchRows(100).write(spark, df)
    assert(ds.dataFiles(spark).size == 10)
    assert(ds.df(spark).count() == 1000)
  }

  test("transform hook applies before write (W9)") {
    val dir = tmp() + "/hook"
    val ds = GraftDataset(dir)
    DatasetWriter(ds, WriteMode.Overwrite)
      .withTransform(df => df.filter($"k" > 5))
      .write(spark, (1 to 10).toDF("k"))
    assert(ds.df(spark).count() == 5)
  }

  test("sticky pipeline: drop → dedup keep-first/last → sort (base.py:118-142)") {
    val df = Seq(
      (1, "x", 10, "junk"), (1, "y", 5, "junk"), (2, "z", 7, "junk")).toDF("k", "v", "ord", "waste")
    val first = GraftDataset("/nonexistent", dropCols = Seq("waste"))
      .withDedup(Seq("k"), SortSpec(Seq("ord" -> true))).copy(dropCols = Seq("waste"))
      .pipeline(df).orderBy("k").collect()
    assert(first.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "y"), (2, "z")))
    val last = GraftDataset("/nonexistent")
      .withDedup(Seq("k"), SortSpec(Seq("ord" -> true)), keepLast = true)
      .pipeline(df).orderBy("k").collect()
    assert(last.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "x"), (2, "z")))
  }

  test("cached dataset persists at DISK_ONLY and serves repeat actions (S8)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cache_").toString + "/ds"
    DatasetWriter(GraftDataset(tmp), WriteMode.Overwrite)
      .write(spark, (1 to 100).toDF("k"))
    val c = GraftDataset(tmp).cached(spark)
    try {
      assert(c.count() == 100)
      assert(c.storageLevel.useDisk && !c.storageLevel.useMemory)
      assert(c.count() == 100) // second action reads the local copy
    } finally c.unpersist()
  }

  test("read-side schema unification: int32 + int64 + missing cols (reader.py:186-233)") {
    val dir = tmp() + "/unify"
    val s1 = StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))
    val s2 = StructType(Seq(StructField("a", LongType), StructField("c", DoubleType)))
    spark.createDataFrame(
      java.util.List.of(Row(1, "x"), Row(2, "y")), s1).write.parquet(dir + "/f1")
    spark.createDataFrame(
      java.util.List.of(Row(30000000000L, 1.5)), s2).write.parquet(dir + "/f2")
    // move files into one flat dir
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val flat = new org.apache.hadoop.fs.Path(dir + "/flat")
    f.mkdirs(flat)
    Seq("f1", "f2").foreach { sub =>
      f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$sub"))
        .filter(st => st.getPath.getName.endsWith(".parquet"))
        .foreach(st => f.rename(st.getPath, new org.apache.hadoop.fs.Path(flat, s"$sub-${st.getPath.getName}")))
    }
    val ds = GraftDataset(flat.toString)
    val out = ds.df(spark)
    assert(out.schema("a").dataType == LongType)
    assert(out.columns.toSet == Set("a", "b", "c"))
    assert(out.count() == 3)

    // Footer-schema cache contract: a second read of the UNCHANGED
    // listing opens no footer (every file's cached entry is the same
    // instance, and planning reads no byte) ...
    val entries = ds.dataFiles(spark).map(f => f -> GraftDataset.footerSchemas.get(f))
    assert(entries.forall(_._2 != null), "the first df caches every file's footer schema")
    val read0 = fileBytesRead
    val again = ds.df(spark)
    assert(fileBytesRead == read0, "an unchanged listing opened a footer")
    assert(again.count() == 3)
    assert(entries.forall { case (f, e) => GraftDataset.footerSchemas.get(f) eq e },
      "unchanged listing must reuse the cached footer schemas")
    // ... while a file with a third schema is visible at once, and only
    // its own footer is read
    val s3 = StructType(Seq(StructField("a", LongType), StructField("d", StringType)))
    spark.createDataFrame(java.util.List.of(Row(99L, "z")), s3)
      .write.mode("append").parquet(flat.toString)
    val out2 = ds.df(spark)
    assert(out2.columns.toSet == Set("a", "b", "c", "d"))
    assert(out2.count() == 4)
    assert(entries.forall { case (f, e) => GraftDataset.footerSchemas.get(f) eq e },
      "an appended file must not re-read the old footers")
  }

  /** Bytes read through the local filesystem by every reader in this
    * JVM (the driver's footer reads and the tasks' scans alike). */
  private def fileBytesRead: Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  test("schema-unify rewrite makes files physically uniform (W10)") {
    val dir = tmp() + "/rewrite"
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val s1 = StructType(Seq(StructField("a", IntegerType)))
    val s2 = StructType(Seq(StructField("a", LongType)))
    spark.createDataFrame(java.util.List.of(Row(1), Row(2)), s1).write.parquet(dir + "/g1")
    spark.createDataFrame(java.util.List.of(Row(9L)), s2).write.parquet(dir + "/g2")
    val flat = new org.apache.hadoop.fs.Path(dir + "/flat"); f.mkdirs(flat)
    Seq("g1", "g2").foreach { sub =>
      f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$sub"))
        .filter(st => st.getPath.getName.endsWith(".parquet"))
        .foreach(st => f.rename(st.getPath, new org.apache.hadoop.fs.Path(flat, s"$sub-${st.getPath.getName}")))
    }
    val ds = GraftDataset(flat.toString)
    assert(DatasetWriter.unifySchemaRewrite(spark, ds))
    // after rewrite: plain spark.read works and sees one schema
    val out = spark.read.parquet(flat.toString)
    assert(out.schema("a").dataType == LongType)
    assert(out.count() == 3)
    assert(!DatasetWriter.unifySchemaRewrite(spark, ds)) // now uniform → no-op
  }

  test("schema-unify rewrite over >64 files takes the distributed listing path") {
    // 80 single-row int32 files + 1 int64 file: fileSchemas switches to
    // the executor-parallel footer scan above 64 files, and the rewrite
    // must promote all 81 to int64
    val dir = tmp() + "/rewrite_many"
    val s1 = StructType(Seq(StructField("a", IntegerType)))
    val s2 = StructType(Seq(StructField("a", LongType)))
    spark.createDataFrame(
      java.util.List.of((1 to 80).map(i => Row(i)): _*), s1)
      .coalesce(1).write.option("maxRecordsPerFile", 1).parquet(dir)
    spark.createDataFrame(java.util.List.of(Row(99L)), s2)
      .write.mode("append").parquet(dir)
    val ds = GraftDataset(dir)
    assert(ds.dataFiles(spark).size > 64)
    assert(DatasetWriter.unifySchemaRewrite(spark, ds))
    val out = spark.read.parquet(dir)
    assert(out.schema("a").dataType == LongType)
    assert(out.count() == 81)
    assert(!DatasetWriter.unifySchemaRewrite(spark, ds))
  }

  test("WeightedLru: entry cap, recency, weight budget, MRU survival") {
    val c = new WeightedLru[String](maxEntries = 2, budget = Long.MaxValue,
      (k, v) => (k.length + v.length).toLong)
    c.put("a", "f1"); c.put("b", "f2"); c.put("c", "f3")
    assert(c.keys == Seq("b", "c"), "oldest entry evicted at the cap")
    assert(c.get("a") == null)
    // get() refreshes recency: touching b makes c the eviction victim
    assert(c.get("b") != null)
    c.put("d", "f4")
    assert(c.keys.toSet == Set("b", "d"), "LRU is access-ordered, not insert-ordered")
    // re-put of an existing key replaces weight, doesn't double-count
    val tight = new WeightedLru[String](maxEntries = 100, budget = 30,
      (k, v) => (k.length + v.length).toLong)
    tight.put("pathpathpath", "f1") // 12 + 2 = 14, fits
    tight.put("pathpathpath", "f1")
    assert(tight.retained == 14, "replacement must not inflate the budget")
    // the budget evicts cold entries; the MRU entry always survives,
    // even when it alone exceeds the budget (it was just computed)
    tight.put("another_long_dataset_path_over_the_budget", "f2")
    assert(tight.keys == Seq("another_long_dataset_path_over_the_budget"),
      "over-budget MRU survives alone; cold entries evicted")
  }

  test("footer-schema cache stays bounded, and eviction never changes an answer") {
    // three REAL datasets of two schemas each, grouped through caches
    // far smaller than their files: an entry cap of 2 and a budget of
    // two paths' characters. Every answer must equal an unbounded
    // cache's; eviction can only cost a footer re-read
    val base = tmp()
    val dss = (1 to 3).map { i =>
      val dir = s"$base/cache_ds$i"
      spark.createDataFrame(java.util.List.of(Row(i)),
        StructType(Seq(StructField("a", IntegerType)))).write.parquet(dir)
      spark.createDataFrame(java.util.List.of(Row(i * 100L)),
        StructType(Seq(StructField("a", LongType)))).write.mode("append").parquet(dir)
      GraftDataset(dir)
    }
    def groups(ds: GraftDataset, cache: WeightedLru[(Long, String)]) =
      GraftDataset.schemaGroups(spark, ds.listed(spark), cache).map { case (s, fls) => s -> fls.toSet }.toSet
    val weigh = (p: String, _: (Long, String)) => p.length.toLong
    val unbounded = new WeightedLru[(Long, String)](Int.MaxValue, Long.MaxValue, weigh)
    val want = dss.map(groups(_, unbounded))
    assert(want.forall(_.size == 2), want)
    val longest = dss.flatMap(_.dataFiles(spark)).map(_.length).max
    val capped = new WeightedLru[(Long, String)](2, Long.MaxValue, weigh)
    val budgeted = new WeightedLru[(Long, String)](Int.MaxValue, 2L * longest, weigh)
    for (_ <- 1 to 2; (ds, w) <- dss.zip(want); c <- Seq(capped, budgeted)) {
      assert(groups(ds, c) == w, s"an evicting cache changed ${ds.path}'s schema groups")
      assert(c.size <= 2 && c.retained <= 2L * longest, s"cache grew past its bound: ${c.keys}")
    }
    // the last dataset's files are the ones kept
    assert(capped.keys.toSet == dss.last.dataFiles(spark).toSet)
    // and end to end: every dataset still reads both its rows
    dss.zipWithIndex.foreach { case (ds, i) =>
      val back = ds.df(spark)
      assert(back.schema("a").dataType == LongType)
      assert(back.as[Long].collect().sorted.toSeq == Seq(i + 1L, (i + 1) * 100L))
    }
  }

  test("repartition in-place swap preserves data (repartition.py:72-80 guard)") {
    val dir = tmp() + "/repart"
    val ds = GraftDataset(dir)
    DatasetWriter(ds, WriteMode.Overwrite).write(spark, (1 to 50).map(i => (i, i % 5)).toDF("k", "p"))
    val n = Repartition.run(spark, ds, ds.copy(partitioning = Seq("p")))
    assert(n == 50)
    val f = ds.fs(spark)
    assert(f.exists(new org.apache.hadoop.fs.Path(dir, "p=0")))
    assert(spark.read.parquet(dir).count() == 50)
  }
}
