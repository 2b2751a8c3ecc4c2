package graft.ds

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Structural guarantees of [[Repartition.compact]] — the oracle
  * (w13_compact) proves content losslessness; this spec proves the
  * operator's scale contract: only fragmented partitions are rewritten,
  * healthy partitions keep their exact files (identity AND mtime), the
  * rewrite scan prunes to qualifying partitions, and the unpartitioned
  * path compacts through a root swap. */
class CompactSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_compact").toString + "/ds"

  private def filesIn(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }

  test("partitioned: fragmented partitions shrink, healthy partition untouched") {
    val dir = freshDir()
    val ds = GraftDataset(dir, partitioning = Seq("p"))
    // p=a and p=b fragmented (5 files each via maxRecordsPerFile),
    // p=c written as one healthy file
    val frag = (1 to 50).map(i => (i.toLong, s"v$i", if (i % 2 == 0) "a" else "b"))
      .toDF("id", "v", "p")
    DatasetWriter(ds, WriteMode.Overwrite, batchRows = Some(5L)).write(spark, frag)
    val healthy = (100 to 110).map(i => (i.toLong, s"v$i", "c")).toDF("id", "v", "p")
    DatasetWriter(ds, WriteMode.Append).write(spark, healthy.coalesce(1))

    val beforeA = filesIn(s"$dir/p=a").size
    val cFilesBefore = filesIn(s"$dir/p=c").map(f => (f.getName, f.lastModified))
    assert(beforeA >= 3, s"fixture must fragment, saw $beforeA files in p=a")
    assert(cFilesBefore.size == 1)

    val stats = Repartition.compact(spark, ds)
    assert(stats.partitionsCompacted == 2, stats.toString)
    assert(stats.filesAfter < stats.filesBefore)
    assert(filesIn(s"$dir/p=a").size == 1)
    assert(filesIn(s"$dir/p=b").size == 1)
    // the healthy partition kept the very same file, not a rewrite
    assert(filesIn(s"$dir/p=c").map(f => (f.getName, f.lastModified)) == cFilesBefore)

    // content is lossless
    val got = spark.read.parquet(dir).select("id", "v", "p").as[(Long, String, String)]
      .collect().toSet
    val want = (frag.as[(Long, String, String)].collect() ++
      healthy.as[(Long, String, String)].collect()).toSet
    assert(got == want)

    // idempotent: a second pass finds nothing to do
    val again = Repartition.compact(spark, ds)
    assert(again.partitionsCompacted == 0 && again.filesAfter == stats.filesAfter)
  }

  test("rewrite scan prunes to qualifying partitions only") {
    val dir = freshDir()
    val ds = GraftDataset(dir, partitioning = Seq("p"))
    val frag = (1 to 20).map(i => (i.toLong, "a")).toDF("id", "p")
    DatasetWriter(ds, WriteMode.Overwrite, batchRows = Some(2L)).write(spark, frag)
    DatasetWriter(ds, WriteMode.Append)
      .write(spark, (1 to 20).map(i => (i.toLong, "b")).toDF("id", "p"))

    // the pruned-scan dataframe compact builds: reproduce its predicate
    // shape and assert Catalyst folds it into PartitionFilters
    val pred = col("p").cast("string") <=> lit("a")
    val scan = ds.df(spark).filter(pred).queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.nonEmpty && scan.head.partitionFilters.nonEmpty,
      "cast-to-string partition predicate must reach PartitionFilters")
    val rows = scan.head.relation.location.listFiles(scan.head.partitionFilters, Nil)
    assert(rows.map(_.files.size).sum == filesIn(s"$dir/p=a").size,
      "pruned listing must cover exactly the qualifying partition's files")
  }

  test("unpartitioned: whole-dataset compaction through atomic root swap") {
    val dir = freshDir()
    val ds = GraftDataset(dir)
    DatasetWriter(ds, WriteMode.Overwrite, batchRows = Some(3L))
      .write(spark, (1 to 30).map(i => (i.toLong, s"x$i")).toDF("id", "v"))
    assert(filesIn(dir).size >= 5)
    val stats = Repartition.compact(spark, ds)
    assert(stats.partitionsCompacted == 1 && filesIn(dir).size == 1)
    assert(spark.read.parquet(dir).count() == 30)
    // no staging residue
    assert(!ds.fs(spark).exists(Commit.stagingOf(new Path(dir))))
  }

  test("hive special values: url-encoded and null partition values survive") {
    val dir = freshDir()
    val ds = GraftDataset(dir, partitioning = Seq("p"))
    val data = ((1 to 10).map(i => (i.toLong, Some("a b/c"))) ++
      (11 to 20).map(i => (i.toLong, None: Option[String]))).toDF("id", "p")
    DatasetWriter(ds, WriteMode.Overwrite, batchRows = Some(2L)).write(spark, data)
    val stats = Repartition.compact(spark, ds)
    assert(stats.partitionsCompacted == 2, stats.toString)
    val got = spark.read.parquet(dir).select("id", "p").as[(Long, Option[String])]
      .collect().toSet
    assert(got == data.as[(Long, Option[String])].collect().toSet)
  }

  test("a literal '+' in a partition value compacts (no url-decode mangling)") {
    val dir = freshDir()
    val ds = GraftDataset(dir, partitioning = Seq("p"))
    // "a+b" is hive-escaped verbatim (dir p=a+b); a URL decoder would
    // read it back as "a b" and silently skip the partition — worse if
    // a REAL "a b" partition also qualifies (duplicated rows)
    val data = ((1 to 10).map(i => (i.toLong, "a+b")) ++
      (11 to 20).map(i => (i.toLong, "a b"))).toDF("id", "p")
    DatasetWriter(ds, WriteMode.Overwrite, batchRows = Some(2L)).write(spark, data)
    val stats = Repartition.compact(spark, ds)
    assert(stats.partitionsCompacted == 2, stats.toString)
    assert(filesIn(s"$dir/p=a+b").size == 1)
    val got = spark.read.parquet(dir).select("id", "p").as[(Long, String)].collect().toSet
    assert(got == data.as[(Long, String)].collect().toSet)
  }

  test("compact ignores leftover hidden swap-backup dirs (not partitions)") {
    val dir = freshDir()
    val ds = GraftDataset(dir, partitioning = Seq("p"))
    val data = (1 to 20).map(i => (i.toLong, if (i % 2 == 0) "a" else "b")).toDF("id", "p")
    DatasetWriter(ds, WriteMode.Overwrite, batchRows = Some(2L)).write(spark, data)
    // crash residue: a backup dir that contains '=' but is hidden.
    // Named for a partition that no longer exists — a residue at a
    // LIVE partition's backup path is legitimately consumed by that
    // partition's swap (stale-backup cleanup in Commit.swap).
    val residue = new java.io.File(s"$dir/.p=zzz__swap_old")
    assert(residue.mkdir())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/.p=zzz__swap_old/stale.parquet"), "junk")

    val stats = Repartition.compact(spark, ds)
    assert(stats.partitionsCompacted == 2, stats.toString) // a and b only
    assert(residue.exists, "compact must not touch the backup dir")
    val got = spark.read.parquet(dir).select("id", "p").as[(Long, String)].collect().toSet
    assert(got == data.as[(Long, String)].collect().toSet)
  }

  test("vacuum never mistakes a live partition ending in __swap_old for a backup") {
    val dir = freshDir()
    val ds = GraftDataset(dir, partitioning = Seq("p"))
    val data = ((1 to 5).map(i => (i.toLong, "foo__swap_old")) ++
      (6 to 10).map(i => (i.toLong, "foo"))).toDF("id", "p")
    DatasetWriter(ds, WriteMode.Overwrite).write(spark, data.coalesce(1))
    val removed = ds.vacuum(spark)
    assert(removed.isEmpty, s"vacuum deleted live data: $removed")
    val got = spark.read.parquet(dir).select("id", "p").as[(Long, String)].collect().toSet
    assert(got == data.as[(Long, String)].collect().toSet)
  }
}
