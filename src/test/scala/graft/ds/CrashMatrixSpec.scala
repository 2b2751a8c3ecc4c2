package graft.ds

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.meta.TimeFly

/** Local-disk stand-in that injects crashes: once armed at step N, the
  * Nth counted `rename`/`delete`/`mkdirs` call and every later one
  * throws, as if the process died there and its remaining metadata
  * steps never ran. Spark's own committer paths (`_temporary`,
  * `.spark-staging-*`), the
  * dataset lock files (`__lock`, and every call [[DatasetLock]] makes
  * for them) and the parent `mkdirs` that `create` issues internally
  * are not counted — the model crashes the library's directory
  * protocol, not Spark's task commit or the lock. */
class FaultFs extends GraftTestFs {
  override def getScheme: String = "graftfault"
  override def getUri: java.net.URI = java.net.URI.create("graftfault:///")

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.step(src, dst); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultFs.step(p); super.delete(p, recursive)
  }
  override def mkdirs(p: Path): Boolean = { FaultFs.step(p); super.mkdirs(p) }
  override def mkdirs(p: Path, perm: FsPermission): Boolean = {
    FaultFs.step(p); super.mkdirs(p, perm)
  }
  override def create(p: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    FaultFs.uncounted(super.create(p, overwrite, bufferSize, replication, blockSize, progress))
  override def create(p: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    FaultFs.uncounted(super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress))
}

object FaultFs {
  private val Off = Long.MaxValue
  @volatile private var armedAt = Off
  private val calls = new AtomicLong
  private val inCreate = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Crash at the `n`th counted call from now on (1-based). */
  def arm(n: Long): Unit = { calls.set(0); armedAt = n }
  /** Stop injecting; true when the armed step was reached. */
  def disarm(): Boolean = { val hit = calls.get >= armedAt; armedAt = Off; hit }

  // the lock's own calls: the first caller outside the FS stack is DatasetLock
  private val lockClass = DatasetLock.getClass.getName
  private def fromLock: Boolean =
    StackWalker.getInstance().walk(_.map[String](_.getClassName)
      .filter(c => !c.startsWith("org.apache.hadoop.") && !c.startsWith("graft.ds.FaultFs") &&
        !c.startsWith("graft.ds.GraftTestFs"))
      .findFirst()).filter(_ == lockClass).isPresent

  private def counted(p: Path): Boolean = {
    val s = p.toString
    !s.contains("/_temporary") && !s.contains("/.spark-staging-") && !p.getName.contains("__lock")
  }

  private def step(paths: Path*): Unit =
    if (armedAt != Off && !inCreate.get && paths.forall(counted) && !fromLock) {
      val n = calls.incrementAndGet()
      if (n >= armedAt)
        throw new java.io.IOException(s"injected crash at metadata step $n (${paths.mkString(" -> ")})")
    }

  private def uncounted[T](body: => T): T = {
    val outer = inCreate.get
    inCreate.set(true)
    try body finally inCreate.set(outer)
  }
}

/** Crash matrix for every stage-and-swap operator, enumerated the way
  * ALICE enumerates crash points (Pillai et al., OSDI 2014): for each
  * operator, crash at metadata step N = 1, 2, … until the operator
  * completes, then run `vacuum` with faults off and check the recovered
  * state against the pre-op and post-op results.
  *
  *  - Root-swap operators: the whole dataset equals pre or post, and an
  *    existing bloom sidecar still covers every live key.
  *  - Partition-scoped operators: each partition equals its pre or post
  *    rows, no key lives in two partitions, and an existing bloom
  *    sidecar still covers every live key.
  *  - Schema-unify: no pre-op row is lost (duplicates are allowed — the
  *    rewrite promotes new files before deleting the originals). */
class CrashMatrixSpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestSession.spark
    s.sparkContext.hadoopConfiguration.set("fs.graftfault.impl", classOf[FaultFs].getName)
    s
  }
  import SparkTestSession.spark.implicits._

  private def uri(local: JPath): String = s"graftfault://$local"

  private def copyTree(from: JPath, to: JPath): Unit = {
    val all = Files.walk(from)
    try all.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally all.close()
  }

  /** Rows per partition value ("" when unpartitioned), each row rendered
    * as its columns cast to string in name order. A missing or empty
    * dataset is the empty map — the state a lost directory reads as. */
  private def state(path: String, parts: Seq[String]): Map[String, Seq[String]] = {
    val ds = GraftDataset(path, partitioning = parts)
    if (!ds.exists(spark) || ds.dataFiles(spark).isEmpty) Map.empty
    else {
      val df = ds.df(spark)
      val cols = df.columns.sorted.toIndexedSeq
      val part = if (parts.isEmpty) lit("") else concat_ws("/", parts.map(col(_).cast("string")): _*)
      df.select(part.as("__p"), concat_ws("|", cols.map(c => coalesce(col(c).cast("string"), lit("∅"))): _*).as("__r"))
        .as[(String, String)].collect().toSeq
        .groupBy(_._1).map { case (p, rs) => p -> rs.map(_._2).sorted }
    }
  }

  /** Build the template once, take the post-op state from a fault-free
    * run, then crash the operator at every metadata step on a fresh copy
    * of the template and hand (step, recovered root, pre, post) to
    * `check`. Returns the number of crash points enumerated. */
  private def matrix(name: String, dsRel: String, parts: Seq[String], changesRows: Boolean = true)(
      build: String => Unit)(op: String => Unit)(
      check: (Long, String, Map[String, Seq[String]], Map[String, Seq[String]]) => Unit): Long = {
    val base = Files.createTempDirectory(s"graft_crash_$name")
    val template = base.resolve("template")
    build(uri(template))
    val pre = state(uri(template.resolve(dsRel)), parts)
    assert(pre.nonEmpty, s"$name: template holds no rows")
    val clean = base.resolve("clean")
    copyTree(template, clean)
    op(uri(clean))
    val post = state(uri(clean.resolve(dsRel)), parts)
    // compaction and unify keep every row: for them pre == post is the claim
    if (changesRows)
      assert(post != pre, s"$name: the operator changed no row — pre-or-post would be vacuous")

    var n = 1L
    var crashed = true
    while (crashed) {
      val run = base.resolve(s"crash_$n")
      copyTree(template, run)
      FaultFs.arm(n)
      crashed = try { op(uri(run)); FaultFs.disarm() }
        catch { case e: Throwable => if (FaultFs.disarm()) true else throw e }
      val root = uri(run.resolve(dsRel))
      GraftDataset(root).vacuum(spark)
      check(n, root, pre, post)
      n += 1
    }
    assert(n > 3, s"$name: only ${n - 1} crash points — the operator bypassed the fault FS")
    n - 1
  }

  /** An existing bloom sidecar must cover every live key of `ds`. */
  private def sidecarCovers(n: Long, ds: GraftDataset): Unit = {
    val df = ds.df(spark)
    BloomIndex.load(ds.fs(spark), ds.path).foreach { idx =>
      val missed = df.filter(!BloomIndex.mightContain(idx)).count()
      assert(missed == 0, s"crash at step $n: bloom sidecar misses $missed live keys")
    }
  }

  private def rootSwap(n: Long, root: String,
      pre: Map[String, Seq[String]], post: Map[String, Seq[String]]): Unit = {
    val got = state(root, Nil)
    assert(got == pre || got == post,
      s"crash at step $n: dataset is neither the pre-op nor the post-op result: $got")
    if (got.nonEmpty) sidecarCovers(n, GraftDataset(root))
  }

  private def partitionScoped(n: Long, root: String, parts: Seq[String], key: String,
      pre: Map[String, Seq[String]], post: Map[String, Seq[String]],
      uniqueKeys: Boolean = true): Unit = {
    val got = state(root, parts)
    (pre.keySet ++ post.keySet ++ got.keySet).foreach { p =>
      val rows = got.getOrElse(p, Nil)
      assert(rows == pre.getOrElse(p, Nil) || rows == post.getOrElse(p, Nil),
        s"crash at step $n: partition '$p' is neither pre nor post: $rows")
    }
    if (got.nonEmpty) {
      val ds = GraftDataset(root, partitioning = parts)
      val df = ds.df(spark)
      if (uniqueKeys) {
        val split = df.groupBy(key).agg(countDistinct(parts.map(col).head, parts.map(col).tail: _*).as("np"))
          .filter(col("np") > 1).select(key).as[String].collect()
        assert(split.isEmpty, s"crash at step $n: keys live in two partitions: ${split.mkString(",")}")
      }
      sidecarCovers(n, ds)
    }
  }

  private def keyed(rows: Seq[(Long, String)]) = rows.toDF("id", "v")
  private def keyedParts(rows: Seq[(Long, String, String)]) = rows.toDF("id", "v", "p")

  test("upsert, root-scoped: crash at every step recovers to pre or post") {
    spark
    val n = matrix("upsert_root", "ds", Nil) { t =>
      DatasetWriter(GraftDataset(s"$t/ds")).withDeltaSubset("id").withBloomIndex
        .write(spark, keyed((1L to 20L).map(i => (i, s"v$i"))))
    } { t =>
      DatasetWriter(GraftDataset(s"$t/ds"), WriteMode.Upsert).withDeltaSubset("id")
        .write(spark, keyed(Seq(3L -> "new3", 30L -> "new30")))
    } { (n, root, pre, post) => rootSwap(n, root, pre, post) }
    info(s"$n crash points")
  }

  test("upsert, partition-scoped: crash at every step keeps each partition pre or post") {
    spark
    val parts = Seq("p")
    val n = matrix("upsert_part", "ds", parts) { t =>
      DatasetWriter(GraftDataset(s"$t/ds", partitioning = parts)).withDeltaSubset("id").withBloomIndex
        .write(spark, keyedParts((1L to 8L).map(i => (i, s"v$i", if (i <= 4) "a" else "b")) :+
          ((9L, "v9", "c"))))
    } { t =>
      // an in-place update (a), a key moving out of a partition it
      // empties (c → b), and a key landing in a new partition (d)
      DatasetWriter(GraftDataset(s"$t/ds", partitioning = parts), WriteMode.Upsert)
        .withDeltaSubset("id")
        .write(spark, keyedParts(Seq((1L, "new1", "a"), (9L, "moved9", "b"), (20L, "new20", "d"))))
    } { (n, root, pre, post) => partitionScoped(n, root, parts, "id", pre, post) }
    info(s"$n crash points")
  }

  // Known gap, kept visible: keys that swap between two partitions which
  // both survive are promoted by two separate partition swaps, so a
  // crash between them leaves one key in both partitions (e.g. id 5 at
  // step 8). Only atomicity across partitions closes it; this case
  // checks what per-partition promotion does guarantee.
  test("upsert, keys swapping between surviving partitions: each partition pre or post") {
    spark
    val parts = Seq("p")
    val n = matrix("upsert_swap", "ds", parts) { t =>
      DatasetWriter(GraftDataset(s"$t/ds", partitioning = parts)).withDeltaSubset("id").withBloomIndex
        .write(spark, keyedParts((1L to 8L).map(i => (i, s"v$i", if (i <= 4) "a" else "b"))))
    } { t =>
      DatasetWriter(GraftDataset(s"$t/ds", partitioning = parts), WriteMode.Upsert)
        .withDeltaSubset("id")
        .write(spark, keyedParts(Seq((1L, "moved1", "b"), (5L, "moved5", "a"))))
    } { (n, root, pre, post) => partitionScoped(n, root, parts, "id", pre, post, uniqueKeys = false) }
    info(s"$n crash points")
  }

  /** After a crash and vacuum, re-running `rerun` (a delta over the
    * op's batch) must land exactly the rows the crash lost: the result
    * equals the fault-free one, no key twice, and the bloom sidecar
    * covers every live key. A crash inside the sidecar's own
    * delete-then-rename leaves no sidecar at all: the fast path is off
    * and deltas take the exact anti-join, so that state is allowed. */
  private def replayLandsOnce(n: Long, root: String, parts: Seq[String],
      post: Map[String, Seq[String]])(rerun: => Long): Unit = {
    rerun
    val got = state(root, parts)
    assert(got == post, s"crash at step $n: the re-run did not land exactly the lost rows: $got")
    val ds = GraftDataset(root, partitioning = parts)
    val df = ds.df(spark)
    assert(df.select("id").distinct().count() == df.count(), s"crash at step $n: a key landed twice")
    sidecarCovers(n, ds)
  }

  /** An interrupted staged append leaves every pre-op row and a subset
    * of the batch's rows live — never a row the op did not write. */
  private def livePrefix(n: Long, root: String,
      pre: Map[String, Seq[String]], post: Map[String, Seq[String]]): Unit = {
    val got = state(root, Nil).getOrElse("", Nil)
    val before = pre.getOrElse("", Nil)
    val after = post.getOrElse("", Nil)
    assert(before.diff(got).isEmpty, s"crash at step $n: pre-op rows lost: ${before.diff(got)}")
    assert(got.diff(after).isEmpty, s"crash at step $n: rows the op never wrote: ${got.diff(after)}")
  }

  // A delta or an append to a bloom-indexed dataset writes into staging,
  // merges the batch's keys into the sidecar, then moves the staged
  // files into their live dirs one rename each. A crash can leave any
  // prefix of those files live; vacuum deletes the staged rest, and
  // re-running the same delta must land exactly the missing rows, no
  // key twice and none lost.
  test("bloom-indexed partitioned delta: crash at every step, vacuum, re-run lands each key once") {
    spark
    val parts = Seq("day")
    def events(ids: Seq[Long]) =
      ids.map(i => (i, s"v$i", s"2024-01-0${i % 3 + 1}")).toDF("id", "v", "day")
    def delta(root: String): Long =
      DatasetWriter(GraftDataset(root, partitioning = parts), WriteMode.Delta)
        .withDeltaSubset("id").withBloomIndex.write(spark, events(11L to 30L))
    val n = matrix("delta_part", "ds", parts) { t =>
      DatasetWriter(GraftDataset(s"$t/ds", partitioning = parts)).withDeltaSubset("id").withBloomIndex
        .write(spark, events(1L to 20L))
    } { t => delta(s"$t/ds") } { (n, root, _, post) =>
      replayLandsOnce(n, root, parts, post)(delta(root))
    }
    info(s"$n crash points")
  }

  test("bloom-indexed unpartitioned delta: crash at every step, vacuum, re-run lands each key once") {
    spark
    def delta(root: String): Long =
      DatasetWriter(GraftDataset(root), WriteMode.Delta).withDeltaSubset("id")
        .write(spark, keyed((11L to 30L).map(i => (i, s"v$i"))).repartition(3))
    val n = matrix("delta_flat", "ds", Nil) { t =>
      DatasetWriter(GraftDataset(s"$t/ds")).withDeltaSubset("id").withBloomIndex
        .write(spark, keyed((1L to 20L).map(i => (i, s"v$i"))))
    } { t => delta(s"$t/ds") } { (n, root, pre, post) =>
      livePrefix(n, root, pre, post)
      replayLandsOnce(n, root, Nil, post)(delta(root))
    }
    info(s"$n crash points")
  }

  test("bloom-indexed append: crash at every step, vacuum, a delta re-run lands each key once") {
    spark
    val batch = keyed((21L to 30L).map(i => (i, s"v$i"))).repartition(3)
    val n = matrix("append_flat", "ds", Nil) { t =>
      DatasetWriter(GraftDataset(s"$t/ds")).withDeltaSubset("id").withBloomIndex
        .write(spark, keyed((1L to 20L).map(i => (i, s"v$i"))))
    } { t => DatasetWriter(GraftDataset(s"$t/ds")).write(spark, batch) } { (n, root, pre, post) =>
      livePrefix(n, root, pre, post)
      replayLandsOnce(n, root, Nil, post)(
        DatasetWriter(GraftDataset(root), WriteMode.Delta).withDeltaSubset("id").write(spark, batch))
    }
    info(s"$n crash points")
  }

  test("compact, unpartitioned: crash at every step recovers to pre or post") {
    spark
    val n = matrix("compact_flat", "ds", Nil, changesRows = false) { t =>
      DatasetWriter(GraftDataset(s"$t/ds"), batchRows = Some(4L)).withDeltaSubset("id").withBloomIndex
        .write(spark, keyed((1L to 20L).map(i => (i, s"v$i"))))
    } { t => Repartition.compact(spark, GraftDataset(s"$t/ds")) } {
      (n, root, pre, post) => rootSwap(n, root, pre, post)
    }
    info(s"$n crash points")
  }

  test("compact, partitioned: crash at every step keeps each partition pre or post") {
    spark
    val parts = Seq("p")
    val n = matrix("compact_part", "ds", parts, changesRows = false) { t =>
      DatasetWriter(GraftDataset(s"$t/ds", partitioning = parts), batchRows = Some(2L))
        .withDeltaSubset("id").withBloomIndex
        .write(spark, keyedParts((1L to 12L).map(i => (i, s"v$i", if (i % 2 == 0) "a" else "b"))))
    } { t => Repartition.compact(spark, GraftDataset(s"$t/ds", partitioning = parts)) } {
      (n, root, pre, post) => partitionScoped(n, root, parts, "id", pre, post)
    }
    info(s"$n crash points")
  }

  test("in-place repartition: crash at every step recovers to pre or post") {
    spark
    val n = matrix("repartition", "ds", Nil) { t =>
      DatasetWriter(GraftDataset(s"$t/ds")).withDeltaSubset("id").withBloomIndex
        .write(spark, keyed((1L to 20L).map(i => (i, s"v$i"))))
    } { t =>
      val ds = GraftDataset(s"$t/ds")
      Repartition.run(spark, ds.copy(dropCols = Seq("v")), ds, batchRows = Some(5L))
    } { (n, root, pre, post) => rootSwap(n, root, pre, post) }
    info(s"$n crash points")
  }

  test("deleteWhere, unpartitioned: crash at every step recovers to pre or post") {
    spark
    val n = matrix("delete_flat", "ds", Nil) { t =>
      DatasetWriter(GraftDataset(s"$t/ds")).withDeltaSubset("id").withBloomIndex
        .write(spark, keyed((1L to 20L).map(i => (i, s"v$i"))))
    } { t => DatasetDelete.deleteWhere(spark, GraftDataset(s"$t/ds"), col("id") <= 5) } {
      (n, root, pre, post) => rootSwap(n, root, pre, post)
    }
    info(s"$n crash points")
  }

  test("deleteWhere, partitioned: crash at every step keeps each partition pre or post") {
    spark
    val parts = Seq("p")
    val n = matrix("delete_part", "ds", parts) { t =>
      DatasetWriter(GraftDataset(s"$t/ds", partitioning = parts)).withDeltaSubset("id").withBloomIndex
        .write(spark, keyedParts((1L to 12L).map(i => (i, s"v$i", Seq("a", "b", "c")(i.toInt % 3)))))
    } { t =>
      // empties p=a, rewrites p=b, leaves p=c untouched
      DatasetDelete.deleteWhere(spark, GraftDataset(s"$t/ds", partitioning = parts),
        col("p") === "a" || (col("p") === "b" && col("id") <= 6))
    } { (n, root, pre, post) => partitionScoped(n, root, parts, "id", pre, post) }
    info(s"$n crash points")
  }

  test("copy-snapshot restore: crash at every step recovers to pre or post") {
    spark
    var snap = ""
    val n = matrix("restore", "current", Nil) { t =>
      val tf = new TimeFly(spark, t)
      tf.init("crash")
      DatasetWriter(tf.currentDataset()).write(spark, keyed((1L to 10L).map(i => (i, s"v$i"))))
      snap = tf.addSnapshot(java.time.Instant.parse("2024-01-01T00:00:00Z"))
      DatasetWriter(tf.currentDataset()).write(spark, keyed((11L to 15L).map(i => (i, s"v$i"))))
    } { t => new TimeFly(spark, t).loadSnapshot(snap) } {
      (n, root, pre, post) => rootSwap(n, root, pre, post)
    }
    info(s"$n crash points")
  }

  test("unifySchemaRewrite: crash at every step loses no pre-op row") {
    spark
    val n = matrix("unify", "ds", Nil, changesRows = false) { t =>
      keyed((1L to 6L).map(i => (i, s"v$i"))).select(col("id").cast("int").as("id"), col("v"))
        .coalesce(1).write.parquet(s"$t/ds")
      keyed((7L to 12L).map(i => (i, s"v$i"))).withColumn("w", col("id") * 2)
        .coalesce(1).write.mode("append").parquet(s"$t/ds")
    } { t => DatasetWriter.unifySchemaRewrite(spark, GraftDataset(s"$t/ds")) } {
      (n, root, pre, _) =>
        val got = state(root, Nil).values.flatten.toSet
        val lost = pre.values.flatten.toSet -- got
        assert(lost.isEmpty, s"crash at step $n: unify lost pre-op rows: $lost")
    }
    info(s"$n crash points")
  }
}
