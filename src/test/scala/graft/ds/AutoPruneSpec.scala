package graft.ds

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Automatic stats-index file skipping on PLAIN reads: the optimizer
  * rule wraps sidecar-bearing relations, the wrapped FileIndex prunes
  * from the pushed data filters, SQL passthrough gets the skip with
  * zero graft API calls — and answers never change (superset safety
  * through the engine seam, not just the graft call site). */
class AutoPruneSpec extends AnyFunSuite {
  // a CHILD session: ExperimentalMethods are per-session state, so the
  // rule installed here never leaks into the other suites' plans
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark.newSession()
    AutoPrune.enable(s)
    s
  }
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/ds"

  /** 8 contiguous id-range files + a built sidecar on (id, score). */
  private def indexedDataset(): GraftDataset = {
    val ds = GraftDataset(tmpDir("graft_autoprune"))
    val df = (0 until 800).map(i => (i.toLong, i.toDouble / 10, s"v$i"))
      .toDF("id", "score", "v")
    DatasetWriter(ds, WriteMode.Overwrite)
      .write(spark, df.repartitionByRange(8, col("id")))
    StatsIndex.build(spark, ds, Seq("id", "score"))
    ds
  }

  /** The parquet scans of an executed plan (AQE-unwrapped). */
  private def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] = {
    def scan(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => scan(a.executedPlan)
        // AQE query stages are LEAVES wrapping their materialized plan
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scan(s.plan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scan)
      }
    scan(df.queryExecution.executedPlan)
  }

  /** Files the executed scan actually read. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect() // metrics are filled by execution
    scans(df).map(_.metrics("numFiles").value).sum
  }

  test("plain spark.read scan prunes files from pushed filters, same answer") {
    val ds = indexedDataset()
    val plain = spark.read.parquet(ds.path)
    val q = plain.filter(col("id") >= 100L && col("id") < 300L)
    val n = scannedFiles(q)
    assert(n > 0 && n < 8, s"expected a pruned file count, scanned $n of 8")
    // identical answer to an unpruned session's scan
    val bare = SparkTestSession.spark.read.parquet(ds.path)
      .filter(col("id") >= 100L && col("id") < 300L)
    assert(q.agg(sum("id")).head.getLong(0) == bare.agg(sum("id")).head.getLong(0))
    assert(q.count() == bare.count())
  }

  test("SQL passthrough over a registered view prunes too") {
    val ds = indexedDataset()
    spark.read.parquet(ds.path).createOrReplaceTempView("autoprune_t")
    val q = spark.sql(
      "SELECT SUM(id) AS s, COUNT(*) AS n FROM autoprune_t WHERE id < 10 OR id > 790")
    assert(scannedFiles(q) == 2, "disjunctive predicate must keep only the two edge files")
    val row = q.head
    val bare = SparkTestSession.spark.read.parquet(ds.path)
      .filter(col("id") < 10L || col("id") > 790L)
    assert(row.getLong(0) == bare.agg(sum("id")).head.getLong(0))
    assert(row.getLong(1) == bare.count())
  }

  test("no sidecar -> relation untouched; filter on unindexed column -> no pruning") {
    // dataset WITHOUT an index: rule must leave the relation alone
    val bare = GraftDataset(tmpDir("graft_autoprune_bare"))
    DatasetWriter(bare, WriteMode.Overwrite)
      .write(spark, (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")))
    val q0 = spark.read.parquet(bare.path).filter(col("id") < 10L)
    val loc0 = q0.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation].location
    }
    assert(loc0.forall(!_.isInstanceOf[StatsPrunedFileIndex]),
      "sidecar-less relation must not be wrapped")
    assert(scannedFiles(q0) == 4, "no sidecar -> all files scanned")

    // indexed dataset, but the predicate names an unindexed column:
    // wrapped, yet zero pruning — and the answer is full-scan exact
    val ds = indexedDataset()
    val q1 = spark.read.parquet(ds.path).filter(col("v") === "v5")
    assert(scannedFiles(q1) == 8, "unindexed-column filter must scan everything")
    assert(q1.count() == 1)
  }

  test("files the index has never seen are never pruned") {
    val ds = indexedDataset()
    // land an extra file OUTSIDE the maintained writer (a graft write
    // would refresh the sidecar) — plain Spark append, no index entry
    Seq((150L, 1.5, "late")).toDF("id", "score", "v")
      .write.mode("append").parquet(ds.path)
    val q = spark.read.parquet(ds.path)
      .filter(col("id") >= 100L && col("id") < 300L)
    assert(q.count() == 201, "unindexed appended file must survive pruning")
  }

  test("partition pruning and stats pruning compose on a hive layout") {
    // 4 hive partitions x 4 range files each; the index covers the DATA
    // column — a query constraining both must scan only the files that
    // survive BOTH prunes (underlying listFiles applies the partition
    // filter first, the wrapper prunes on id after)
    val root = tmpDir("graft_autoprune_hive")
    (0 until 800).map(i => (i.toLong, i % 4, s"v$i")).toDF("id", "part", "v")
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions("id")
      .write.partitionBy("part").parquet(root)
    val ds = GraftDataset(root)
    StatsIndex.build(spark, ds, Seq("id"))
    val total = ds.dataFiles(spark).size
    assert(total >= 8, s"fixture too small: $total files")
    val q = spark.read.parquet(root)
      .filter(col("part") === 1 && col("id") < 200L)
    val n = scannedFiles(q)
    // partition filter alone keeps total/4; the id range then keeps a
    // strict subset of those
    assert(n > 0 && n < total / 4,
      s"expected both prunes to apply, scanned $n of $total (partition share ${total / 4})")
    val bare = SparkTestSession.spark.read.parquet(root)
      .filter(col("part") === 1 && col("id") < 200L)
    assert(q.count() == bare.count())
  }

  test("unified multi-root reads prune too: schema-group unions through spark.sql") {
    // two schema VINTAGES in one dataset dir — the multi-schema read
    // shape: group A (id, v), group B adds a column. Each file holds a
    // narrow contiguous id range so the sidecar can discriminate.
    val ds = GraftDataset(tmpDir("graft_autoprune_uni"))
    (0 until 400).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id"))
      .write.parquet(ds.path)
    (400 until 800).map(i => (i.toLong, s"v$i", i * 2.0)).toDF("id", "v", "extra")
      .repartitionByRange(4, col("id"))
      .write.mode("append").parquet(ds.path)
    StatsIndex.build(spark, ds, Seq("id"))
    assert(ds.dataFiles(spark).size == 8)

    // unified read = one multi-root relation per schema group; register
    // and query through plain SQL so the rule (not the graft call site)
    // must do the pruning
    ds.df(spark).createOrReplaceTempView("autoprune_uni")
    val q = spark.sql("SELECT SUM(id) AS s, COUNT(*) AS n FROM autoprune_uni WHERE id < 100")
    val n = scannedFiles(q)
    assert(n < 8, s"unified read must prune schema-group file lists, scanned $n of 8")
    val row = q.head
    assert(row.getLong(0) == (0 until 100).map(_.toLong).sum && row.getLong(1) == 100)

    // and a predicate straddling both groups still answers exactly
    val q2 = spark.sql("SELECT COUNT(*) AS n FROM autoprune_uni WHERE id >= 350 AND id < 450")
    assert(q2.head.getLong(0) == 100)
  }

  test("a single-FILE root resolves to its parent dataset dir and prunes") {
    // a one-file schema group of a multi-schema read (or a direct
    // spark.read.parquet(file)) has rootPaths = [that file]; the
    // dataset dir carrying the sidecar is the PARENT — without the
    // file-root fallback this shape silently scans unpruned while its
    // multi-file siblings prune
    val ds = indexedDataset()
    val fs = ds.fs(spark)
    val one = fs.listStatus(new org.apache.hadoop.fs.Path(ds.path))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted.head
    val q = spark.read.parquet(one).filter(col("id") >= 700L)
    q.collect() // execute; answer correctness is covered by superset safety
    val wrapped = q.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.isInstanceOf[StatsPrunedFileIndex]
    }
    assert(wrapped.nonEmpty && wrapped.forall(identity),
      "single-file root was not wrapped with the pruning index")
  }

  test("wrapped relations keep cache identity: second read hits df.cache()") {
    val ds = indexedDataset()
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(ds.path)

    // unit level: wrappers over path-equal underlying indexes are equal
    def inMem() = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      spark, Seq(root), Map.empty, None)
    val a = new StatsPrunedFileIndex(inMem(), root, hconf)
    val b = new StatsPrunedFileIndex(inMem(), root, hconf)
    assert(a == b && a.hashCode == b.hashCode,
      "wrapper equality must delegate to the underlying index")

    // end-to-end through the analyzer-injection path (the cluster
    // deploy shape): with GraftExtensions the ANALYZED plan carries the
    // wrapper, so cache lookup equality runs through it
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s2 = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions().apply(_)).getOrCreate()
    val df1 = s2.read.parquet(ds.path)
    try {
      val wrapped = df1.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation
            if l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.isInstanceOf[StatsPrunedFileIndex] => l
      }
      assert(wrapped.nonEmpty, "extensions session must wrap the analyzed relation")
      df1.persist()
      df1.count()
      val df2 = s2.read.parquet(ds.path).filter(col("id") < 100L)
      val hit = df2.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
      assert(hit.nonEmpty, "second read of the cached path must hit the cache")
      assert(df2.count() == 100)
    } finally {
      df1.unpersist()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      prev.foreach(SparkSession.setDefaultSession)
    }
  }

  test("partition-scoped upsert and delete list partitions through a wrapped index") {
    val ds = GraftDataset(tmpDir("graft_autoprune_upsert"), partitioning = Seq("p"))
    DatasetWriter(ds).write(spark, (1 to 40).map(i => (i.toLong, s"v$i", i % 4)).toDF("id", "v", "p"))
    StatsIndex.build(spark, ds, Seq("id"))
    // with GraftExtensions the analyzed relation the upsert and the
    // delete read their live partitions from is the stats-pruning wrapper
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s2 = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions().apply(_)).getOrCreate()
    try {
      assert(ds.raw(s2).queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
      }.exists {
        case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          r.location.isInstanceOf[StatsPrunedFileIndex]
        case _ => false
      }, "extensions session must wrap the analyzed relation")
      // k=1 moves p=1 → p=0 from outside the batch; k=2 stays in p=2
      DatasetWriter(ds, WriteMode.Upsert).withDeltaSubset("id")
        .write(s2, s2.createDataFrame(Seq((1L, "m1", 0), (2L, "u2", 2))).toDF("id", "v", "p"))
      assert(DatasetDelete.deleteWhere(s2, ds, col("p") === 3) == 10)
      val back = ds.df(s2).select("id", "v", "p").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
      assert(back.size == 30 && back(1L) == ("m1", 0) && back(2L) == ("u2", 2) &&
        back.values.forall(_._2 != 3), back)
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      prev.foreach(SparkSession.setDefaultSession)
    }
  }

  /** 8 files of 100 random-order long keys `k` each, bloom-contracted,
    * with a range-clustered `id` for the stats index. */
  private def bloomDataset(name: String): (GraftDataset, Long => Long) = {
    val key = (i: Long) => (i * 2654435761L) % 1000003L
    val ds = GraftDataset(tmpDir(name))
    DatasetWriter(ds, WriteMode.Overwrite).withRowGroupBloom("k")
      .write(spark, (0 until 800).map(i => (i.toLong, key(i.toLong), s"v$i")).toDF("id", "k", "v")
        .repartitionByRange(8, col("id")))
    assert(ds.dataFiles(spark).size == 8)
    (ds, key)
  }

  private def wrapped(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.isInstanceOf[StatsPrunedFileIndex]
    }.exists(identity)

  test("a bloom contract without a stats index wraps the relation and prunes = and IN") {
    val (ds, key) = bloomDataset("graft_autoprune_bloom")
    assert(!ds.fs(spark).exists(StatsIndex.sidecar(ds.path)))
    val bare = SparkTestSession.spark.read.parquet(ds.path)
    val eq = spark.read.parquet(ds.path).filter(col("k") === key(150))
    assert(wrapped(eq), "a contract-only dataset must be wrapped")
    // k is unclustered: min/max could skip nothing, the blooms skip the rest
    val n = scannedFiles(eq)
    assert(n >= 1 && n <= 2, s"expected the key's file (plus at most a false positive), scanned $n of 8")
    assert(eq.select("id").as[Long].collect().toSeq == Seq(150L))
    val in = spark.read.parquet(ds.path).filter(col("k").isin(key(150), key(650), 7L))
    val m = scannedFiles(in)
    assert(m >= 2 && m <= 4, s"IN over two present keys scanned $m of 8")
    assert(in.count() == bare.filter(col("k").isin(key(150), key(650), 7L)).count())
    // an IN list long enough to become InSet prunes too
    val many = (0 until 20).map(i => key(i.toLong))
    val inSet = spark.read.parquet(ds.path).filter(col("k").isin(many: _*))
    assert(scannedFiles(inSet) <= 2 && inSet.count() == 20)
    // a key absent from every file: nothing left to scan, same answer
    assert(scannedFiles(spark.read.parquet(ds.path).filter(col("k") === -1L)) <= 1)
  }

  test("stats and bloom levels compose") {
    val (ds, key) = bloomDataset("graft_autoprune_both")
    StatsIndex.build(spark, ds, Seq("id"))
    // stats alone keep ids 0-199 (two files); the key lives in file 6,
    // so the blooms rule both out: only the composition scans nothing
    val read = spark.read.parquet(ds.path)
    assert(scannedFiles(read.filter(col("id") < 200L)) == 2)
    assert(scannedFiles(read.filter(col("k") === key(650))) <= 2)
    val both = read.filter(col("id") < 200L && col("k") === key(650))
    assert(scannedFiles(both) == 0 && both.count() == 0)
    val hit = read.filter(col("id") < 200L && col("k") === key(150))
    assert(scannedFiles(hit) == 1 && hit.count() == 1)
    // the graft call site applies the same file test
    val pruned = ds.pruned(spark, col("id") < 200L && col("k") === key(150))
    assert(pruned.files.size == 1, pruned.files)
    assert(pruned.df(spark).filter(col("k") === key(150)).count() == 1)
  }

  test("null, cast, <=>, other-type literals and columns outside the contract prune nothing") {
    val (ds, key) = bloomDataset("graft_autoprune_bloom_conservative")
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    val k = AttributeReference("k", LongType)()
    val v = AttributeReference("v", StringType)()
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(ds.path)
    val idx = new StatsPrunedFileIndex(new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      spark, Seq(root), Map.empty, None), root, hconf)
    def listed(f: Expression): Int = idx.listFiles(Nil, Seq(f)).map(_.files.size).sum
    assert(listed(EqualTo(k, Literal(-1L))) == 0, "control: an absent key drops every file")
    Seq[Expression](
      EqualTo(k, Literal(null, LongType)),
      In(k, Seq(Literal(null, LongType))),
      EqualNullSafe(k, Literal(-1L)),
      EqualTo(Cast(k, StringType), Literal("-1")),
      EqualTo(k, Literal(-1)), // an int literal against the long column
      EqualTo(v, Literal("absent")),
      LessThan(k, Literal(-1L))
    ).foreach(f => assert(listed(f) == 8, s"$f must keep every file"))
    // and end to end through the optimizer
    val read = spark.read.parquet(ds.path)
    assert(scannedFiles(read.filter(col("k") <=> key(150))) == 8)
    assert(scannedFiles(read.filter(col("k").cast("string") === key(150).toString)) == 8)
    assert(scannedFiles(read.filter(col("v") === "v150")) == 8)
  }

  test("withoutRowGroupBloom ends the contract and the bloom pruning") {
    val (ds, key) = bloomDataset("graft_autoprune_bloom_off")
    assert(scannedFiles(spark.read.parquet(ds.path).filter(col("k") === key(150))) <= 2)
    DatasetWriter(ds, WriteMode.Append).withoutRowGroupBloom
      .write(spark, Seq((900L, 900L, "v900")).toDF("id", "k", "v"))
    val q = spark.read.parquet(ds.path).filter(col("k") === key(150))
    assert(!wrapped(q), "with no contract and no stats index the relation stays unwrapped")
    assert(scannedFiles(q) == 9 && q.count() == 1)
  }

  /** One file of 3000 random-order unique long keys `k` in several row
    * groups, bloom-contracted, plus `id` (the row number) and `v`. */
  private def rowGroupDataset(name: String): (GraftDataset, Long => Long) = {
    val key = (i: Long) => (i * 2654435761L) % 1000003L
    val ds = GraftDataset(tmpDir(name))
    DatasetWriter(ds, WriteMode.Overwrite, rowGroupSize = Some(100L)).withRowGroupBloom("k")
      .write(spark, (0 until 3000).map(i => (i.toLong, key(i.toLong), s"v$i")).toDF("id", "k", "v").coalesce(1))
    (ds, key)
  }

  /** Row counts of each row group of `file`. */
  private def rowGroupRows(file: String): Seq[Long] = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(file), spark.sparkContext.hadoopConfiguration))
    try r.getFooter.getBlocks.toArray.toSeq.map(_.asInstanceOf[
      org.apache.parquet.hadoop.metadata.BlockMetaData].getRowCount) finally r.close()
  }

  /** Per listed file name, the row groups the wrapped index keeps for it
    * (None: read whole) when listing `df`'s scan again. */
  private def keptRowGroups(df: org.apache.spark.sql.DataFrame): Map[String, Option[RowGroupBloom.KeptRowGroups]] = {
    val scan = scans(df).head
    scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters).flatMap(_.files)
      .map(f => f.getPath.getName -> f.metadata.get(RowGroupBloom.KeptRowGroups.Key).collect {
        case k: RowGroupBloom.KeptRowGroups => k
      }).toMap
  }

  private def sameRows(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
    val (x, y) = (a.collect().map(_.toString).sorted.toSeq, b.collect().map(_.toString).sorted.toSeq)
    assert(x == y, s"$x vs $y")
  }

  /** The first row number (`id`) of each row group, from their row counts. */
  private def firstIds(rows: Seq[Long]): Seq[Long] = rows.scanLeft(0L)(_ + _).init

  test("a task reads only the row groups the driver kept") {
    val (ds, key) = rowGroupDataset("graft_autoprune_rowgroups")
    val rows = rowGroupRows(ds.dataFiles(spark).head)
    assert(rows.size >= 4, s"fixture wrote ${rows.size} row groups")
    val ids = firstIds(rows)
    // keys in row groups 1 and 2: one run, past the file's first row group
    val keys = Seq(key(ids(1) + 3), key(ids(2) + 7))
    def q(s: SparkSession) = s.read.parquet(ds.path).filter(col("k").isin(keys: _*)).select("id", "k", "v")
    val lean = q(spark)
    sameRows(lean, q(SparkTestSession.spark))
    val k = keptRowGroups(lean).values.head.get
    assert(k.groups.grouped(3).map(_(0).toInt).toSeq == Seq(1, 2) && k.onePage && k.cols == Set("k"),
      k.groups.toSeq)
    assert(k.ranges(0, Long.MaxValue) == Seq((k.groups(1), k.groups(4) + k.groups(5) - k.groups(1))))
    // the lean task pushes no probe filter, so only its range keeps the
    // other row groups out
    assert(scans(lean).map(_.metrics("numOutputRows").value).sum == rows(1) + rows(2))
  }

  test("kept row groups that are not adjacent take Spark's reader, same rows") {
    val (ds, key) = rowGroupDataset("graft_autoprune_runs")
    val rows = rowGroupRows(ds.dataFiles(spark).head)
    // keys in the first and the last row group: two runs, not one
    val keys = Seq(key(5L), key(2995L))
    def q(s: SparkSession) = s.read.parquet(ds.path).filter(col("k").isin(keys: _*)).select("id", "k", "v")
    val split = q(spark)
    sameRows(split, q(SparkTestSession.spark))
    val k = keptRowGroups(split).values.head.get
    val kept = k.groups.grouped(3).map(_(0).toInt).toSeq
    assert(kept.contains(0) && kept.contains(rows.size - 1) && kept.size < rows.size, kept)
    assert(k.ranges(0, Long.MaxValue).size >= 2, k.ranges(0, Long.MaxValue))
    // a split covering only the first row group's midpoint gets only it
    assert(k.ranges(0, k.groups(1) + k.groups(2) / 2 + 1) == Seq((k.groups(1), k.groups(2))))
    // Spark's reader drops the others by the same statistics and blooms
    assert(scans(split).map(_.metrics("numOutputRows").value).sum == kept.map(rows).sum)
  }

  test("a multi-page sorted probe column keeps its pushdown and page skipping") {
    val dir = tmpDir("graft_autoprune_pages")
    // one row group of 20000 ascending keys in pages of 500 rows
    spark.range(0, 20000).select(col("id").as("k"), (col("id") * 3).as("v")).coalesce(1).write
      .option("parquet.bloom.filter.enabled#k", "true").option("parquet.enable.dictionary#k", "false")
      .option("parquet.page.row.count.limit", "500").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    RowGroupBloom.write(fs, dir, Seq("k" -> None))
    val q = spark.read.parquet(dir).filter(col("k") === 12345L)
    sameRows(q, SparkTestSession.spark.read.parquet(dir).filter(col("k") === 12345L))
    val k = keptRowGroups(q).values.head.get
    assert(!k.onePage && k.groups.length == 3, "a many-page chunk must keep the probe pushed")
    // the column index still skips the pages that cannot hold the key
    val out = scans(q).map(_.metrics("numOutputRows").value).sum
    assert(out > 0 && out <= 1000, s"the scan read $out of 20000 rows")
  }

  test("files past the bloom read cap take the full reader, the rest read lean") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.graftcount.impl", classOf[CountingFs].getName)
    val dir = tmpDir("graft_autoprune_cap")
    val key = 424242L
    DatasetWriter(GraftDataset(dir), WriteMode.Overwrite).withRowGroupBloom("k")
      .write(spark, spark.range(0, 900).select(col("id"),
        when(col("id") % 2 === 0, lit(key)).otherwise(col("id") * 7919).as("k"))
        .repartitionByRange(90, col("id")))
    val counted = s"graftcount://$dir"
    val files = GraftDataset(dir).dataFiles(spark)
    assert(files.size > RowGroupBloom.MaxBloomReadsPerListing, s"fixture wrote ${files.size} files")
    CountingFs.reset()
    val q = spark.read.parquet(counted).filter(col("k") === key).select("id")
    sameRows(q, SparkTestSession.spark.read.parquet(dir).filter(col("k") === key).select("id"))
    // the first listing reads blooms of the first 64 files; the task of
    // every other file reads its own bloom through Spark's reader
    val bloomRead = CountingFs.taskStreams.groupBy(_.path.getName).map { case (name, ss) =>
      val bloom = CountingFs.regions(new org.apache.hadoop.fs.Path(dir, name), hconf).filter(_.what == "bloom k")
      name -> ss.flatMap(_.reads).exists(r => bloom.exists(_.overlaps(r)))
    }
    assert(bloomRead.size == files.size)
    assert(bloomRead.count(!_._2) == RowGroupBloom.MaxBloomReadsPerListing &&
      bloomRead.count(_._2) == files.size - RowGroupBloom.MaxBloomReadsPerListing, bloomRead.values.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("_metadata.row_index and input_file_name() match a plain read over a lean one") {
    val (ds, key) = rowGroupDataset("graft_autoprune_rowindex")
    val ids = firstIds(rowGroupRows(ds.dataFiles(spark).head))
    // adjacent row groups past the first: one range starting mid-file
    val keys = Seq(key(ids(2) + 1), key(ids(2) + 9), key(ids(3) + 4))
    def q(s: SparkSession) = s.read.parquet(ds.path).filter(col("k").isin(keys: _*))
      .select(col("id"), col("_metadata.row_index"), input_file_name(), col("_metadata.file_path"))
    assert(keptRowGroups(q(spark)).values.forall(_.exists(k =>
      k.onePage && k.ranges(0, Long.MaxValue).size == 1)), "the read must be lean")
    sameRows(q(spark), q(SparkTestSession.spark))
    assert(q(spark).collect().forall(r => r.getLong(0) == r.getLong(1)), "row_index is the row number")
  }

  test("the non-vectorized reader reads the kept row groups too") {
    val (ds, key) = rowGroupDataset("graft_autoprune_rowbased")
    val rows = rowGroupRows(ds.dataFiles(spark).head)
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    AutoPrune.enable(s)
    val ids = firstIds(rows)
    val keys = Seq(key(ids(1) + 3), key(ids(2) + 7))
    val q = s.read.parquet(ds.path).filter(col("k").isin(keys: _*)).select("id", "v")
    sameRows(q, SparkTestSession.spark.read.parquet(ds.path).filter(col("k").isin(keys: _*)).select("id", "v"))
    assert(!scans(q).head.supportsColumnar, "the scan must be row-based")
    val kept = keptRowGroups(q).values.head.get.groups.grouped(3).map(_(0).toInt).toSeq
    assert(kept == Seq(1, 2), kept)
    assert(scans(q).map(_.metrics("numOutputRows").value).sum == kept.map(rows).sum)
  }

  test("the lean parquet format keeps ParquetFileFormat's identity: df.cache() still hits") {
    val (ds, key) = bloomDataset("graft_autoprune_format_cache")
    val plainFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val lean = new PrunedParquetFormat(Set("k"))
    assert(lean == plainFormat && plainFormat == lean && lean.hashCode == plainFormat.hashCode &&
      lean.toString == "Parquet")
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s2 = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions().apply(_)).getOrCreate()
    val df1 = s2.read.parquet(ds.path)
    try {
      val formats = df1.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation].fileFormat
      }
      assert(formats.nonEmpty && formats.forall(_.isInstanceOf[PrunedParquetFormat]), formats)
      df1.persist()
      df1.count()
      val df2 = s2.read.parquet(ds.path).filter(col("k") === key(150))
      assert(df2.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }.nonEmpty, "a second read of the cached path must hit the cache")
      assert(df2.select("id").as[Long].collect().toSeq == Seq(150L))
    } finally {
      df1.unpersist()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      prev.foreach(SparkSession.setDefaultSession)
    }
  }

  test("enable is idempotent; extensions class wires without error") {
    AutoPrune.enable(spark); AutoPrune.enable(spark)
    assert(spark.experimental.extraOptimizations
      .count(_.isInstanceOf[StatsPruneRule]) == 1)
    new graft.plans.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
  }
}
