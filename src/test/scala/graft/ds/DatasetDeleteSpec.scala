package graft.ds

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Row-level delete: SQL DELETE semantics (TRUE removes, FALSE/NULL
  * keep), partition-scoped rewrite surface (untouched partitions keep
  * file identity), sidecar survival, and crash-residue compatibility
  * with vacuum. */
class DatasetDeleteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/ds"

  test("deleteWhere removes TRUE rows, keeps FALSE and NULL rows (SQL DELETE rule)") {
    val ds = GraftDataset(tmpDir("graft_del_null"))
    // v: 1, 2, null — predicate v > 1 is TRUE, FALSE, NULL respectively
    DatasetWriter(ds).write(spark,
      Seq[(Long, java.lang.Long)]((1L, 1L), (2L, 2L), (3L, null)).toDF("id", "v"))
    val n = DatasetDelete.deleteWhere(spark, ds, col("v") > 1)
    assert(n == 1, s"exactly the TRUE row must go, deleted $n")
    assert(ds.df(spark).select("id").as[Long].collect().toSet == Set(1L, 3L),
      "FALSE and NULL predicate rows must survive")
    // idempotent: re-running the same delete removes nothing
    assert(DatasetDelete.deleteWhere(spark, ds, col("v") > 1) == 0)
    // no-match and missing-target deletes are free
    assert(DatasetDelete.deleteWhere(spark, ds, col("id") > 100) == 0)
    assert(DatasetDelete.deleteWhere(spark,
      GraftDataset(tmpDir("graft_del_absent")), lit(true)) == 0)
  }

  test("partition-scoped: only affected partitions rewritten, emptied ones dropped") {
    val ds = GraftDataset(tmpDir("graft_del_part"), partitioning = Seq("p"))
    DatasetWriter(ds).write(spark,
      (1 to 400).map(i => (i.toLong, s"v$i", i % 4)).toDF("id", "v", "p"))
    val fs = ds.fs(spark)
    def filesOf(p: Int): Map[String, Long] =
      fs.listStatus(new Path(ds.path, s"p=$p")).filter(_.isFile)
        .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val p2Before = filesOf(2)

    // p=1: every row doomed (emptied); p=3: half doomed (rewritten);
    // p=0, p=2: untouched
    val n = DatasetDelete.deleteWhere(spark, ds,
      col("p") === 1 || (col("p") === 3 && col("id") <= 200))
    assert(n == 100 + 50, s"deleted $n")
    assert(!fs.exists(new Path(ds.path, "p=1")), "fully-doomed partition dir must be dropped")
    assert(filesOf(2) == p2Before,
      "untouched partition's files must keep identity and mtime (never rewritten)")
    val left = ds.df(spark)
    assert(left.count() == 250)
    assert(left.filter(col("p") === 3).agg(min("id")).head.getLong(0) > 200)
    // no staging residue
    assert(!fs.exists(Commit.stagingOf(new Path(ds.path))))
  }

  test("deleteByKeys is null-safe and scoped like delta/upsert keys") {
    val ds = GraftDataset(tmpDir("graft_del_keys"), partitioning = Seq("p"))
    DatasetWriter(ds).write(spark,
      Seq[(java.lang.Long, String, Int)]((1L, "a", 0), (2L, "b", 0), (null, "c", 1), (4L, "d", 1))
        .toDF("id", "v", "p"))
    val doomedKeys = Seq[java.lang.Long](2L, null).toDF("id")
    val n = DatasetDelete.deleteByKeys(spark, ds, doomedKeys, Seq("id"))
    assert(n == 2, s"null key must delete the null-keyed row, deleted $n")
    assert(ds.df(spark).select("v").as[String].collect().toSet == Set("a", "d"))
  }

  test("bloom sidecar survives both delete paths as a live-key superset") {
    // root-swap path: sidecar is carried through the swap
    val flat = GraftDataset(tmpDir("graft_del_bloomflat"))
    val wf = DatasetWriter(flat).withDeltaSubset("id").withBloomIndex
    wf.write(spark, (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    assert(DatasetDelete.deleteWhere(spark, flat, col("id") <= 10) == 10)
    assert(BloomIndex.load(flat.fs(spark), flat.path).nonEmpty,
      "root-swap delete must carry the sidecar through")
    // deleted keys are false positives now; delta re-inserting one must
    // land (exact join resolves it), and a live key must still dedup
    val n1 = wf.withMode(WriteMode.Delta)
      .write(spark, Seq((5L, "back"), (50L, "dup")).toDF("id", "v"))
    assert(n1 == 1, s"deleted key must be re-insertable, live key must dedup, wrote $n1")

    // partition-scoped path: root sidecar untouched
    val part = GraftDataset(tmpDir("graft_del_bloompart"), partitioning = Seq("p"))
    val wp = DatasetWriter(part).withDeltaSubset("id").withBloomIndex
    wp.write(spark, (1 to 100).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "p"))
    assert(DatasetDelete.deleteByKeys(spark, part,
      Seq(2L, 4L).toDF("id"), Seq("id")) == 2)
    assert(BloomIndex.load(part.fs(spark), part.path).nonEmpty)
    assert(part.df(spark).count() == 98)
  }

  test("crashed root-swap residue is vacuum-recoverable (shared __delete_tmp discipline)") {
    val ds = GraftDataset(tmpDir("graft_del_vac"))
    DatasetWriter(ds).write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val fs = ds.fs(spark)
    val root = new Path(ds.path)
    // simulate a crash AFTER staging, before the swap: a populated
    // staging dir beside a live root is a leftover
    val tmp = Commit.stagingOf(root)
    fs.mkdirs(tmp)
    val cleaned = ds.vacuum(spark)
    assert(cleaned.exists(_.endsWith(tmp.getName)), "vacuum must clean delete staging")
    assert(!fs.exists(tmp))
    assert(ds.df(spark).count() == 2, "live data untouched")
  }
}
