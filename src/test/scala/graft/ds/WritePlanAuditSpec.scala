package graft.ds

import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanLike, FormattedMode,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.meta.{Manager, TimeFly}

/** Plan-locks the MUTATING operators PlanGuardSpec deliberately skips:
  * their interesting plans (delta anti-join, upsert merge + pruned
  * kept-scan, compact's partition-pruned rewrite) only exist while the
  * operator executes, so this spec captures the actually-executed plans
  * through a QueryExecutionListener and asserts the same pathology
  * rules — no CartesianProduct, no BroadcastNestedLoopJoin — plus each
  * operator's load-bearing scale property (anti-join present, partition
  * filters reaching the pruned scans). Without this, a mutating
  * operator could regress to a cartesian/NLJ or a full-dataset scan
  * and every correctness oracle would still pass. */
class WritePlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Run `body`, returning every query executed inside it. Listener
    * callbacks are async — poll until the capture count is stable. */
  private def captureQueries(body: => Unit): Seq[QueryExecution] = {
    val captured = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // drain: wait until no new plans arrive for 2 consecutive polls
      var last = -1
      var stable = 0
      var waited = 0
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

  /** The formatted plans of every query executed inside `body`. */
  private def capturePlans(body: => Unit): Seq[String] =
    captureQueries(body).map(_.explainString(FormattedMode))

  /** Every node of an executed plan: AQE's final plan, query stages,
    * reused exchanges and a command's physical plan are unwrapped. With
    * `intoCache` the walk also enters the cached plan behind each
    * in-memory scan (the work that built the cache); without, it stops
    * at the scan (the query reads the cache, nothing more). */
  private def nodes(p: SparkPlan, intoCache: Boolean): Seq[SparkPlan] = {
    val inputs = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case m: InMemoryTableScanExec if intoCache => Seq(m.relation.cachedPlan)
      case _ => p.children
    }
    p +: inputs.flatMap(nodes(_, intoCache))
  }

  /** The in-memory relations a query reads directly. */
  private def cacheScans(qe: QueryExecution): Seq[InMemoryTableScanExec] =
    nodes(qe.executedPlan, intoCache = false).collect { case m: InMemoryTableScanExec => m }

  private def scansDir(p: SparkPlan, dir: String): Boolean =
    nodes(p, intoCache = false).exists {
      case f: FileSourceScanLike => f.relation.location.rootPaths.exists(_.toString.contains(dir))
      case _ => false
    }

  private def assertNoPathologies(plans: Seq[String], op: String): Unit = {
    assert(plans.nonEmpty, s"$op: listener captured no plans")
    assert(!plans.exists(_.contains("CartesianProduct")),
      s"$op planned a CartesianProduct")
    assert(!plans.exists(_.contains("BroadcastNestedLoopJoin")),
      s"$op planned a BroadcastNestedLoopJoin")
  }

  private val partitionFiltersNonEmpty = raw"PartitionFilters: \[(?!\])".r

  /** A delta computes its diff once, in the write job: no query may read
    * an in-memory relation (a persisted diff read back). */
  private def assertNothingCached(queries: Seq[QueryExecution], op: String): Unit = {
    val cached = queries.filter(q => cacheScans(q).nonEmpty)
    assert(cached.isEmpty, s"$op: ${cached.size} queries read an in-memory relation:\n" +
      cached.map(_.executedPlan.treeString).mkString("\n---\n"))
  }

  test("delta write executes as an anti-join, never a cartesian") {
    val dir = tmpDir("graft_audit_delta")
    val ds = GraftDataset(s"$dir/t")
    DatasetWriter(ds).write(spark, (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val batch = (400 to 700).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val queries = captureQueries {
      assert(DatasetWriter(ds, WriteMode.Delta).withDeltaSubset("id").write(spark, batch) == 200)
      // keyless (the stream sink's shape): set-EXCEPT, same single pass
      assert(DatasetWriter(ds, WriteMode.Delta)
        .write(spark, (650 to 800).map(i => (i.toLong, s"v$i")).toDF("id", "v")) == 100)
    }
    val plans = queries.map(_.explainString(FormattedMode))
    assertNoPathologies(plans, "delta")
    assert(plans.exists(_.contains("LeftAnti")),
      "delta diff must execute as a left-anti join against the existing keys")
    assertNothingCached(queries, "delta")
  }

  test("bloom-indexed overlapping delta: no aggregate over existing keys, diff never cached") {
    val dir = tmpDir("graft_audit_delta_once")
    val ds = GraftDataset(s"$dir/t")
    val w = DatasetWriter(ds).withDeltaSubset("id").withBloomIndex
    w.write(spark, (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val batch = (400 to 700).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    var n = -1L
    val queries = captureQueries { n = w.withMode(WriteMode.Delta).write(spark, batch) }
    assert(n == 200, s"expected 200 new rows, wrote $n")
    assert(ds.df(spark).count() == 700)
    assertNoPathologies(queries.map(_.explainString(FormattedMode)), "delta")
    val all = queries.flatMap(q => nodes(q.executedPlan, intoCache = true))
    assert(all.exists { case j: BaseJoinExec => j.joinType == LeftAnti; case _ => false },
      "overlapping keys must still verify through the exact anti-join")
    // a left-anti join ignores duplicates on its build side: nothing may
    // aggregate or shuffle the existing-side key scan (the sidecar merge
    // aggregates the keys of the staged new files, a sibling of the root)
    val bad = all.filter {
      case a @ (_: BaseAggregateExec | _: ShuffleExchangeLike) => scansDir(a, ds.path)
      case _ => false
    }
    assert(bad.isEmpty, "an aggregate or shuffle runs over the existing-side scan:\n" +
      bad.map(_.treeString).mkString("\n---\n"))
    // the write job observes the diff's row count as it writes: the
    // diff is neither persisted nor read a second time
    assertNothingCached(queries, "bloom-indexed delta")
  }

  /** Call sites (a stage's long form: the user stack) of every Spark job
    * started inside `body`. */
  private def jobCallSites(body: => Unit): Seq[String] = {
    val sites = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        sites.add(j.stageInfos.map(_.details).mkString("\n"))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      Thread.sleep(500) // the listener bus is async
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    sites.asScala.toSeq
  }

  /** Bytes read through the local filesystem by every reader in this
    * JVM: the driver's footer and bloom reads as well as the tasks'. */
  private def fileBytesRead: Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  /** Writes `df` as the single parquet file `dest`. */
  private def placeFile(df: DataFrame, dest: String): Unit = {
    val out = tmpDir("graft_audit_place") + "/o"
    df.coalesce(1).write.parquet(out)
    val f = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.createDirectories(java.nio.file.Paths.get(dest).getParent)
    Files.move(f.toPath, java.nio.file.Paths.get(dest))
  }

  test("two file schemas in either order: df, delta and upsert see one schema") {
    def inferJobs(sites: Seq[String]) = sites.filter(_.contains("graft.ds.GraftDataset.raw("))
    val narrow = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val wide = (51 to 100).map(i => (i.toLong, s"v$i", i * 2)).toDF("id", "v", "w")
    def batch(ids: Range, tag: String) = ids.map(i => (i.toLong, s"$tag$i", -i)).toDF("id", "v", "w")
    // the path order decides which footer Spark's own inference would
    // read; every graft read and write must see (id, v, w) either way
    for (wideFirst <- Seq(false, true)) {
      val root = s"${tmpDir("graft_audit_schema")}/t"
      placeFile(if (wideFirst) wide else narrow, s"$root/a.parquet")
      placeFile(if (wideFirst) narrow else wide, s"$root/b.parquet")
      val ds = GraftDataset(root)
      assert(ds.df(spark).columns.toSeq == Seq("id", "v", "w"))

      var n = -1L
      val deltaSites = jobCallSites {
        n = DatasetWriter(ds, WriteMode.Delta).withDeltaSubset("id").write(spark, batch(91 to 110, "d"))
      }
      assert(n == 10, s"keyed delta wrote $n rows")
      assert(inferJobs(deltaSites).isEmpty,
        s"delta ran a schema-inference job:\n${inferJobs(deltaSites).mkString("\n---\n")}")
      // keyless: a set-EXCEPT over every batch column, `w` included
      assert(DatasetWriter(ds, WriteMode.Delta).write(spark, batch(105 to 115, "d")) == 5)

      // the merge rewrites every row: a batch without `w` must not pass
      val e = intercept[IllegalArgumentException](DatasetWriter(ds, WriteMode.Upsert)
        .withDeltaSubset("id").write(spark, batch(1 to 3, "x").drop("w")))
      assert(e.getMessage.contains("must match dataset columns"), e.getMessage)

      val upsertSites = jobCallSites {
        n = DatasetWriter(ds, WriteMode.Upsert).withDeltaSubset("id").write(spark, batch(95 to 120, "u"))
      }
      assert(n > 0, s"upsert wrote $n rows")
      assert(inferJobs(upsertSites).isEmpty,
        s"upsert ran a schema-inference job:\n${inferJobs(upsertSites).mkString("\n---\n")}")
      // rows the upsert did not touch keep their `w` (null where the
      // narrow file never stored one)
      assert(rows(ds, "id", "v", "w") == ((1 to 50).map(i => s"$i|v$i") ++
        (51 to 94).map(i => s"$i|v$i|${i * 2}") ++ (95 to 120).map(i => s"$i|u$i|${-i}")).sorted)
    }
  }

  test("plain reads run no Spark job and plan like Spark's own read") {
    def plan(d: DataFrame): String = d.queryExecution.optimizedPlan.treeString.replaceAll("#\\d+", "#x")
    val rowsOf = spark.range(0, 300, 1, 3).select(col("id"),
      timestamp_micros(col("id") * 1000000L).as("ts"),
      (col("id") / 7).cast("decimal(12,2)").as("amount"),
      (col("id") % 3).cast("int").as("p"))
    val lake = tmpDir("graft_audit_zero_job")
    // 5 flat files, and 15 files under three hive directories
    val flat = GraftDataset(s"$lake/flat")
    DatasetWriter(flat).write(spark, rowsOf.drop("p").repartitionByRange(5, col("id")))
    val hive = GraftDataset(s"$lake/hive", partitioning = Seq("p"))
    DatasetWriter(hive).write(spark, rowsOf.repartition(5))
    assert(flat.dataFiles(spark).size == 5 && hive.dataFiles(spark).size == 15)
    StatsIndex.build(spark, flat, Seq("id"))
    // a copy snapshot, a manifest snapshot and a current version
    val tf = new TimeFly(spark, s"$lake/events")
    tf.init("events")
    val cur = tf.currentDataset()
    DatasetWriter(cur).write(spark, rowsOf.filter(col("id") < 100))
    tf.addSnapshot(Instant.parse("2024-01-01T00:00:00Z"))
    DatasetWriter(cur).write(spark, rowsOf.filter(col("id") >= 100 && col("id") < 200))
    tf.addSnapshot(Instant.parse("2024-06-01T00:00:00Z"), manifest = true)
    DatasetWriter(cur).write(spark, rowsOf.filter(col("id") >= 200))
    val manager = new Manager(spark, lake)
    manager.init("lake")
    manager.addDataset("events", s"$lake/events")
    manager.addDataset("hive", hive.path)
    def snapshots = Seq("2023-12-01", "2024-03-01").map(d => tf.read(Some(Instant.parse(s"${d}T00:00:00Z"))))
    assert(snapshots.map(_.files.nonEmpty) == Seq(false, true), "one copy and one manifest snapshot")
    assert(snapshots.map(_.df(spark).count()) == Seq(100L, 200L))

    def reads(): Unit = {
      Seq(flat, hive).foreach { ds => ds.df(spark); ds.register(spark, "zero_job_read") }
      manager.registerAll()
      snapshots.foreach(_.df(spark))
      assert(flat.pruned(spark, col("id") < 10).files.nonEmpty, "the stats index must prune")
      flat.pruned(spark, col("id") < 10).df(spark)
    }
    reads() // the first read of each file version opens its footer
    val sites = jobCallSites(reads())
    assert(sites.isEmpty, s"${sites.size} Spark jobs planning plain reads:\n${sites.mkString("\n---\n")}")

    for (ds <- Seq(flat, hive)) {
      val plain = spark.read.parquet(ds.path)
      assert(ds.df(spark).schema == plain.schema, ds.path)
      assert(plan(ds.df(spark)) == plan(plain), ds.path)
    }
    // a column stored in the files AND named by a hive directory keeps
    // the directory's type, as Spark's inference gives it
    val hiveCol = s"$lake/hive_col"
    placeFile(Seq((1L, "1")).toDF("id", "p"), s"$hiveCol/p=1/a.parquet")
    assert(GraftDataset(hiveCol).df(spark).schema == spark.read.parquet(hiveCol).schema)
    // FLOAT16 still fails at the footer with graft's error
    val f16 = s"$lake/f16"
    Files.createDirectories(java.nio.file.Paths.get(f16))
    Files.copy(getClass.getResourceAsStream("/float16_fixture.parquet"),
      java.nio.file.Paths.get(f16, "part-0.parquet"))
    val e = intercept[IllegalArgumentException](GraftDataset(f16).df(spark))
    assert(e.getMessage.contains("FLOAT16"), e.getMessage)

    // after an append, the next df opens the new files' footers only
    val before = flat.dataFiles(spark).toSet
    DatasetWriter(flat).write(spark, rowsOf.drop("p").filter(col("id") < 20).repartition(2))
    val added = flat.dataFiles(spark).filterNot(before)
    assert(added.nonEmpty)
    var dfBytes = -1L
    val appendSites = jobCallSites {
      val b0 = fileBytesRead
      flat.df(spark)
      dfBytes = fileBytesRead - b0
    }
    assert(appendSites.isEmpty, s"the read after an append ran ${appendSites.size} jobs")
    val b1 = fileBytesRead
    added.foreach(graft.sources.ParquetMeta.footer(_, spark.sparkContext.hadoopConfiguration))
    assert(dfBytes == fileBytesRead - b1,
      s"the read after an append read $dfBytes bytes; the new files' footers are ${fileBytesRead - b1}")
  }

  /** Queries of an upsert that read the pinned full-width batch: the
    * cached relation whose own plan reads no other cache. */
  private def pinnedReads(queries: Seq[QueryExecution]): Int =
    queries.count(q => cacheScans(q).exists(m =>
      !nodes(m.relation.cachedPlan, intoCache = false).exists(_.isInstanceOf[InMemoryTableScanExec])))

  private def rows(ds: GraftDataset, cols: String*): Seq[String] =
    ds.df(spark).select(concat_ws("|", cols.map(c => col(c).cast("string")): _*))
      .as[String].collect().toSeq.sorted

  test("upsert reads its pinned batch only to materialize it and in the staged write") {
    // root path (unpartitioned, bloom-indexed)
    val flat = GraftDataset(s"${tmpDir("graft_audit_upsert_once")}/t")
    DatasetWriter(flat).withDeltaSubset("id").withBloomIndex
      .write(spark, (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val fq = captureQueries {
      DatasetWriter(flat, WriteMode.Upsert).withDeltaSubset("id")
        .write(spark, Seq((1L, "u1"), (50L, "u50"), (200L, "n200")).toDF("id", "v"))
    }
    assert(pinnedReads(fq) <= 2, s"root upsert read the pinned batch in ${pinnedReads(fq)} queries")
    assert(rows(flat, "id", "v") == ((2 to 100).filter(_ != 50).map(i => s"$i|v$i") ++
      Seq("1|u1", "50|u50", "200|n200")).sorted)

    // partition-scoped path, with a key moving partition
    val part = GraftDataset(s"${tmpDir("graft_audit_upsert_once_p")}/t", partitioning = Seq("p"))
    DatasetWriter(part).withDeltaSubset("id").withBloomIndex
      .write(spark, (1 to 400).map(i => (i.toLong, s"seed_$i", i % 8)).toDF("id", "v", "p"))
    val pq = captureQueries {
      DatasetWriter(part, WriteMode.Upsert).withDeltaSubset("id")
        .write(spark, Seq((8L, "u8", 0), (9L, "m9", 2), (500L, "n", 1)).toDF("id", "v", "p"))
    }
    assert(pinnedReads(pq) <= 2,
      s"partition-scoped upsert read the pinned batch in ${pinnedReads(pq)} queries")
    assert(rows(part, "id", "v", "p") == ((1 to 400).filter(i => i != 8 && i != 9)
      .map(i => s"$i|seed_$i|${i % 8}") ++ Seq("8|u8|0", "9|m9|2", "500|n|1")).sorted)
    // the sidecar absorbed the batch keys from the key projection
    assert(DatasetWriter(part, WriteMode.Delta).withDeltaSubset("id")
      .write(spark, Seq((500L, "n", 1), (501L, "x", 1)).toDF("id", "v", "p")) == 1)
  }

  test("partition-scoped upsert prunes the kept-scan and joins with keys") {
    val dir = tmpDir("graft_audit_upsert")
    val ds = GraftDataset(s"$dir/t", partitioning = Seq("p"))
    val seed = (1 to 400).map(i => (i.toLong, s"seed_$i", i % 8)).toDF("id", "v", "p")
    DatasetWriter(ds).write(spark, seed)
    // batch touches partitions 0 and 1 only — the kept-scan must carry
    // partition filters (O(touched partitions), not O(dataset))
    val batch = Seq((8L, "u8", 0), (16L, "u16", 0), (9L, "u9", 1), (500L, "n", 1))
      .toDF("id", "v", "p")
    val plans = capturePlans {
      DatasetWriter(ds, WriteMode.Upsert).withDeltaSubset("id").write(spark, batch)
    }
    assertNoPathologies(plans, "upsert")
    assert(plans.exists(_.contains("LeftAnti")),
      "upsert must drop replaced rows via a left-anti key join")
    assert(plans.exists(p => p.contains("LeftAnti") && partitionFiltersNonEmpty.findFirstIn(p).nonEmpty),
      "the upsert kept-scan must prune to affected partitions (PartitionFilters at the scan)")
    // and it really was partition-scoped: untouched partitions kept their files
    assert(ds.df(spark).count() == 401)
  }

  /** The scans of `dir` in each query of `queries` that reads it. */
  private def dirScans(queries: Seq[QueryExecution], dir: String): Seq[Seq[FileSourceScanLike]] =
    queries.map(q => nodes(q.executedPlan, intoCache = false).collect {
      case f: FileSourceScanLike if f.relation.location.rootPaths.exists(_.toString.contains(dir)) => f
    }).filter(_.nonEmpty)

  test("partition-scoped upsert searches for moved keys only outside the batch's partitions") {
    def seeded(name: String): GraftDataset = {
      val ds = GraftDataset(s"${tmpDir(name)}/t", partitioning = Seq("p"))
      DatasetWriter(ds).write(spark, (1 to 400).map(i => (i.toLong, s"seed_$i", i % 4)).toDF("id", "v", "p"))
      ds
    }
    // (1) the batch covers every live partition: no key can have moved
    // out of a partition it omits, so the kept scan is the only read
    val all = seeded("graft_audit_upsert_cover")
    val coverBatch = Seq((4L, "u4", 1), (5L, "u5", 1), (6L, "u6", 2), (500L, "n", 3), (501L, "n", 0))
      .toDF("id", "v", "p")
    val q1 = captureQueries {
      DatasetWriter(all, WriteMode.Upsert).withDeltaSubset("id").write(spark, coverBatch)
    }
    assert(dirScans(q1, all.path).size == 1,
      s"a covering batch scanned the dataset in ${dirScans(q1, all.path).size} queries")
    assert(rows(all, "id", "v", "p") == ((1 to 400).filter(i => i < 4 || i > 6)
      .map(i => s"$i|seed_$i|${i % 4}") ++
      Seq("4|u4|1", "5|u5|1", "6|u6|2", "500|n|3", "501|n|0")).sorted)

    // (2) keyed on the partition column: a matched row sits in its
    // incoming partition, so the batch's partitions bound the search
    val keyed = seeded("graft_audit_upsert_pkey")
    val q2 = captureQueries {
      DatasetWriter(keyed, WriteMode.Upsert).withDeltaSubset("id", "p")
        .write(spark, Seq((4L, "u4", 0), (500L, "n", 0)).toDF("id", "v", "p"))
    }
    assert(dirScans(q2, keyed.path).size == 1,
      s"a partition-keyed upsert scanned the dataset in ${dirScans(q2, keyed.path).size} queries")
    assert(keyed.df(spark).count() == 401)

    // (3) the batch omits p=2 and p=3: the moved-keys scan reads only
    // those (k=6 moves 2 → 0), the kept scan only p=0, p=1 and p=2
    val part = seeded("graft_audit_upsert_moved")
    val q3 = captureQueries {
      DatasetWriter(part, WriteMode.Upsert).withDeltaSubset("id")
        .write(spark, Seq((4L, "u4", 0), (6L, "m6", 0), (9L, "u9", 1)).toDF("id", "v", "p"))
    }
    val scans = dirScans(q3, part.path)
    assert(scans.size == 2, s"expected the moved-keys and kept scans, got ${scans.size}")
    assert(scans.flatten.forall(_.partitionFilters.nonEmpty),
      "every scan of the dataset must carry PartitionFilters:\n" + scans.flatten.mkString("\n"))
    assert(!q3.exists(_.explainString(FormattedMode).contains("input_file_name")),
      "no scan may project input_file_name")
    assert(rows(part, "id", "v", "p") == ((1 to 400).filter(i => i != 4 && i != 6 && i != 9)
      .map(i => s"$i|seed_$i|${i % 4}") ++ Seq("4|u4|0", "6|m6|0", "9|u9|1")).sorted)
  }

  test("partition-scoped delete prunes the kept-scan to affected partitions") {
    val dir = tmpDir("graft_audit_delete")
    val ds = GraftDataset(s"$dir/t", partitioning = Seq("p"))
    val seed = (1 to 400).map(i => (i.toLong, s"seed_$i", i % 8)).toDF("id", "v", "p")
    DatasetWriter(ds).write(spark, seed)
    // doomed rows live in partitions 0 and 1 only — the staged kept-
    // rewrite must prune to them (O(touched partitions), not O(dataset))
    val plans = capturePlans {
      assert(DatasetDelete.deleteWhere(spark, ds,
        col("p") <= 1 && col("id") <= 100) == 25)
    }
    assertNoPathologies(plans, "delete")
    assert(plans.exists(p => partitionFiltersNonEmpty.findFirstIn(p).nonEmpty),
      "the delete kept-scan must prune to affected partitions (PartitionFilters at the scan)")
    assert(ds.df(spark).count() == 375)

    // keyed purge: the doomed-location scan + anti-join carry keys
    val plans2 = capturePlans {
      assert(DatasetDelete.deleteByKeys(spark, ds,
        Seq(200L, 300L).toDF("id"), Seq("id")) == 2)
    }
    assertNoPathologies(plans2, "deleteByKeys")
    assert(plans2.exists(_.contains("LeftAnti")),
      "keyed delete must keep surviving rows via a left-anti key join")
    assert(ds.df(spark).count() == 373)
  }

  test("bloom-probed no-overlap purge reads zero data files") {
    val dir = tmpDir("graft_audit_bloomdel")
    val ds = GraftDataset(s"$dir/t")
    DatasetWriter(ds).withDeltaSubset("id").withBloomIndex
      .write(spark, (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val fs = ds.fs(spark)
    val before = ds.dataFiles(spark)
      .map(f => f -> fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getModificationTime)
      .toMap
    // a GDPR-shaped sweep whose ids are all absent: the doomed keys die
    // at the bloom probe, so the delete must plan ZERO queries against
    // the dataset — only the LIMIT-1 emptiness check over the key list
    val plans = capturePlans {
      assert(DatasetDelete.deleteByKeys(spark, ds,
        (100001L to 101000L).toDF("id"), Seq("id")) == 0)
    }
    assert(plans.nonEmpty, "the emptiness gate itself must execute")
    assert(!plans.exists(_.contains(dir)),
      s"no executed plan may scan the dataset:\n${plans.filter(_.contains(dir)).mkString("\n")}")
    val after = ds.dataFiles(spark)
      .map(f => f -> fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getModificationTime)
      .toMap
    assert(after == before, "no data file may be rewritten by a no-overlap purge")
    // overlap still resolves exactly through the same probe path (false
    // positives and true hits fall through to the semi/anti joins)
    assert(DatasetDelete.deleteByKeys(spark, ds,
      Seq(42L, 999999L).toDF("id"), Seq("id")) == 1)
    assert(ds.df(spark).count() == 499)
  }

  test("warm bloom point lookups read fewer bytes JVM-wide and run the same jobs") {
    val ds = GraftDataset(s"${tmpDir("graft_audit_lookup_io")}/t")
    val key = (i: Long) => (i * 2654435761L) % 1000003L
    DatasetWriter(ds).withRowGroupBloom("k")
      .write(spark, (0 until 8000).map(i => (i.toLong, key(i.toLong), s"v$i")).toDF("id", "k", "v")
        .repartition(8))
    assert(ds.dataFiles(spark).size == 8)
    val pruning = spark.newSession()
    AutoPrune.enable(pruning)
    def lookups(s: org.apache.spark.sql.SparkSession, ids: Seq[Long]): Seq[Long] =
      ids.flatMap(i => s.read.parquet(ds.path).filter(col("k") === key(i)).select("id").as[Long].collect())
    // warm both paths: listing caches, and the pruning session's blooms
    Seq(spark, pruning).foreach(lookups(_, Seq(0L)))
    def measure(s: org.apache.spark.sql.SparkSession): (Long, Int, Seq[Long]) = {
      var got = Seq.empty[Long]
      val before = fileBytesRead
      val jobs = jobCallSites { got = lookups(s, (1L to 6L).map(_ * 997)) }.size
      (fileBytesRead - before, jobs, got)
    }
    val (plainBytes, plainJobs, plainRows) = measure(spark)
    val (prunedBytes, prunedJobs, prunedRows) = measure(pruning)
    assert(prunedRows == plainRows && plainRows == (1L to 6L).map(_ * 997))
    assert(prunedJobs == plainJobs, s"pruning must add no job: $prunedJobs vs $plainJobs")
    // each unpruned lookup opens all 8 files (footer, bloom, crc); a
    // pruned one opens only the key's file
    assert(prunedBytes * 2 < plainBytes,
      s"warm pruned lookups read $prunedBytes bytes, unpruned $plainBytes")
  }

  test("compact's rewrite scan prunes to fragmented partitions only") {
    val dir = tmpDir("graft_audit_compact")
    val ds = GraftDataset(s"$dir/t", partitioning = Seq("p"))
    val rows = (1 to 300).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "p")
    // fragment partitions p=0,1 with many small appends; p=2 written once
    (0 until 6).foreach { k =>
      DatasetWriter(ds).write(spark,
        rows.filter(col("p") < 2 && col("id") % 6 === k).repartition(3))
    }
    DatasetWriter(ds).write(spark, rows.filter(col("p") === 2).coalesce(1))
    val plans = capturePlans {
      val stats = Repartition.compact(spark, ds)
      assert(stats.partitionsCompacted == 2, s"expected p=0,p=1 compacted: $stats")
    }
    assertNoPathologies(plans, "compact")
    assert(plans.exists(p => partitionFiltersNonEmpty.findFirstIn(p).nonEmpty),
      "compact's single rewrite job must scan ONLY qualifying partitions " +
        "(PartitionFilters at the scan) — a full-dataset scan is the 100 TB regression")
    assert(ds.df(spark).count() == 300)
  }

  test("in-place repartition and unify rewrite stay pathology-free") {
    val dir = tmpDir("graft_audit_rewrite")
    val ds = GraftDataset(s"$dir/t")
    DatasetWriter(ds, batchRows = Some(50L))
      .write(spark, (1 to 300).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val plans = capturePlans {
      Repartition.run(spark, ds, ds.copy(sortBy = SortSpec.asc("id")))
      DatasetWriter.unifySchemaRewrite(spark, ds)
    }
    assertNoPathologies(plans, "repartition/unify")
    assert(ds.df(spark).count() == 300)
  }

  /** Data files per leaf directory of `files` (directory name → count). */
  private def filesPerDir(files: Seq[String]): Map[String, Int] =
    files.groupBy(f => new org.apache.hadoop.fs.Path(f).getParent.getName).map { case (d, fs) => d -> fs.size }

  /** Shuffle exchanges in the executed plans of the writes among `queries`. */
  private def writeShuffles(queries: Seq[QueryExecution]): Seq[SparkPlan] = {
    val writes = queries.filter(q => nodes(q.executedPlan, intoCache = false)
      .exists(_.isInstanceOf[DataWritingCommandExec]))
    assert(writes.nonEmpty, "no write was captured")
    writes.flatMap(q => nodes(q.executedPlan, intoCache = false)).filter(_.isInstanceOf[ShuffleExchangeLike])
  }

  /** The largest task count of any stage started inside `body`. */
  private def maxStageTasks(body: => Unit): Int = {
    val sizes = new ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = sizes.add(s.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      Thread.sleep(500) // the listener bus is async
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    sizes.asScala.foldLeft(0)(_ max _)
  }

  /** Rows `[lo, hi)` over 30 partition values, read as `slices` tasks. */
  private def slice(lo: Long, hi: Long, slices: Int = 3): DataFrame =
    spark.range(lo, hi, 1, slices)
      .select(col("id"), concat(lit("v"), col("id")).as("v"), (col("id") % 30).cast("int").as("p"))

  private val thirty = (0 until 30).map(p => s"p=$p").toSet

  test("a small append lands one file per partition directory, with no shuffle") {
    val ds = GraftDataset(s"${tmpDir("graft_audit_fanout")}/t", partitioning = Seq("p"))
    DatasetWriter(ds).write(spark, slice(0, 3000))
    val before = ds.dataFiles(spark).toSet
    assert(filesPerDir(before.toSeq) == thirty.map(_ -> 1).toMap)
    val q = captureQueries { DatasetWriter(ds).write(spark, slice(3000, 6000)) }
    val added = ds.dataFiles(spark).filterNot(before)
    assert(filesPerDir(added) == thirty.map(_ -> 1).toMap,
      s"a 3-slice append wrote ${added.size} files: ${filesPerDir(added)}")
    assert(writeShuffles(q).isEmpty, "the append gained an Exchange")
    assert(ds.df(spark).count() == 6000)
  }

  test("upsert and delete rewrites land one file per partition directory, with no shuffle") {
    val ds = GraftDataset(s"${tmpDir("graft_audit_fanout_rw")}/t", partitioning = Seq("p"))
    // a fragmented dataset: three files in every partition directory
    DatasetWriter(ds).write(spark, slice(0, 3000).repartition(3))
    assert(filesPerDir(ds.dataFiles(spark)) == thirty.map(_ -> 3).toMap)

    // keyed upsert touching every partition: half replaced, half new
    val batch = slice(0, 60).withColumn("v", lit("u")).unionByName(slice(3000, 3060))
    val uq = captureQueries {
      assert(DatasetWriter(ds, WriteMode.Upsert).withDeltaSubset("id").write(spark, batch) > 0)
    }
    assert(filesPerDir(ds.dataFiles(spark)) == thirty.map(_ -> 1).toMap,
      s"the upsert rewrite left ${filesPerDir(ds.dataFiles(spark))}")
    assert(writeShuffles(uq).isEmpty, "the upsert's staged write gained an Exchange")
    assert(ds.df(spark).count() == 3060)
    assert(ds.df(spark).filter(col("v") === "u").count() == 60)

    // re-fragment, then a delete whose doomed rows live in p < 10 only
    DatasetWriter(ds, WriteMode.Overwrite).write(spark, slice(0, 3000).repartition(3))
    val dq = captureQueries {
      assert(DatasetDelete.deleteWhere(spark, ds, col("p") < 10 && col("id") < 1500) == 500)
    }
    val after = filesPerDir(ds.dataFiles(spark))
    assert(after == thirty.map(d => d -> (if (d.stripPrefix("p=").toInt < 10) 1 else 3)).toMap,
      s"the delete rewrite left $after")
    assert(writeShuffles(dq).isEmpty, "the delete's staged write gained an Exchange")
    assert(ds.df(spark).count() == 2500)
  }

  test("an explicit repartition, count batching and an unknown size keep their task counts") {
    // repartition(4): four tasks, so four files in every directory
    val rp = GraftDataset(s"${tmpDir("graft_audit_fanout_rp")}/t", partitioning = Seq("p"))
    DatasetWriter(rp).write(spark, slice(0, 3000).repartition(4))
    assert(filesPerDir(rp.dataFiles(spark)) == thirty.map(_ -> 4).toMap)

    // count batching, unpartitioned: ceil(300 / 50) write tasks, and no
    // file over the 50-row cap
    val flat = GraftDataset(s"${tmpDir("graft_audit_fanout_batch")}/t")
    val batchTasks = maxStageTasks(DatasetWriter(flat, batchRows = Some(50L)).write(spark, slice(0, 300)))
    assert(batchTasks == 6, s"count batching ran $batchTasks tasks")
    val perFile = flat.dataFiles(spark).map(f => spark.read.parquet(f).count())
    assert(perFile.size >= 6 && perFile.forall(_ <= 50) && perFile.sum == 300, s"rows per file: $perFile")
    // ...and partitioned: the per-file row cap holds in every directory
    val bp = GraftDataset(s"${tmpDir("graft_audit_fanout_batch_p")}/t", partitioning = Seq("p"))
    DatasetWriter(bp, batchRows = Some(20L)).write(spark, slice(0, 3000))
    val capped = bp.dataFiles(spark).map(f => spark.read.parquet(f).count())
    assert(capped.forall(_ <= 20) && capped.sum == 3000)
    assert(filesPerDir(bp.dataFiles(spark)).values.forall(_ >= 5))

    // an RDD-backed input has no size estimate: its five tasks stay
    val rdd = spark.sparkContext.parallelize((0 until 300).map(i =>
      org.apache.spark.sql.Row(i.toLong, s"v$i", i % 3)), 5)
    val unknown = spark.createDataFrame(rdd, slice(0, 1).schema)
    assert(unknown.queryExecution.optimizedPlan.stats.sizeInBytes >= Long.MaxValue)
    val un = GraftDataset(s"${tmpDir("graft_audit_fanout_unknown")}/t", partitioning = Seq("p"))
    DatasetWriter(un).write(spark, unknown)
    assert(filesPerDir(un.dataFiles(spark)) == (0 until 3).map(p => s"p=$p" -> 5).toMap)
  }

  test("a write estimated at k splits keeps at least k tasks and k files per directory") {
    val key = "spark.sql.files.maxPartitionBytes"
    val rows = spark.range(0, 40000, 1, 8).select(col("id"), (col("id") % 3).cast("int").as("p"))
    val est = rows.queryExecution.optimizedPlan.stats.sizeInBytes
    val k = 4
    val ds = GraftDataset(s"${tmpDir("graft_audit_fanout_scale")}/t", partitioning = Seq("p"))
    val prev = spark.conf.getOption(key)
    // a split of ceil(est / k) bytes makes the estimate exactly k splits
    spark.conf.set(key, ((est + k - 1) / k).toString)
    val tasks = try maxStageTasks(DatasetWriter(ds).write(spark, rows))
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(tasks >= k, s"a write of $k splits ran $tasks tasks")
    val perDir = filesPerDir(ds.dataFiles(spark))
    assert(perDir.size == 3 && perDir.values.forall(_ >= k), s"files per directory: $perDir")
    assert(ds.df(spark).count() == 40000)
  }
}
