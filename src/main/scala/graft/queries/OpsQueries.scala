package graft.queries
import scala.language.existentials

import java.nio.file.Files
import java.time.Instant
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ds._
import graft.meta.TimeFly

/** Orchestration-operator queries (SURVEY §2.1/2.2/2.3/2.10): each entry
  * drives a writer/reader/metadata operator end-to-end — write to a temp
  * dataset, read back, reduce to a deterministic, oracle-checkable result.
  * The oracle can't see our temp dirs, so every query's SQL twin derives
  * the same answer from the source tables directly (e.g. a lossless
  * round-trip must reproduce the source aggregate).
  */
object OpsQueries {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_q_$name").toString + "/ds"

  // ---- S6: materialized view with filter/exclude/distinct/order -------
  def s6Materialize(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val v = o.filter(col("o_totalprice") > 150000)
      .drop("o_orderpriority")
      .distinct()
    v.createOrReplaceTempView("hi_orders")
    spark.table("hi_orders")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }
  val s6Sql: String =
    """SELECT o_orderstatus, COUNT(*) AS n FROM (
      |  SELECT DISTINCT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
      |  FROM orders WHERE o_totalprice > 150000)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---- S7: string-path relation ---------------------------------------
  def s7PathRelation(spark: SparkSession, dir: String): DataFrame =
    spark.sql(s"SELECT n_name, n_regionkey FROM parquet.`$dir/nation.parquet` ORDER BY n_name")
  val s7Sql: String = "SELECT n_name, n_regionkey FROM nation ORDER BY n_name"

  // ---- S4/W3: csv write + read round-trip ------------------------------
  def s4CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("csv")
    val ds = GraftDataset(out, format = "csv")
    DatasetWriter(ds, WriteMode.Overwrite).write(spark, Tables.load(spark, dir, "nation"))
    ds.df(spark).groupBy("n_regionkey").agg(count(lit(1)).as("n_nations"))
      .select(col("n_regionkey").cast("int").as("n_regionkey"), col("n_nations"))
      .orderBy("n_regionkey")
  }
  val s4Sql: String =
    "SELECT n_regionkey, COUNT(*) AS n_nations FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"

  // ---- W1: zstd parquet write + read round-trip ------------------------
  def w1ParquetRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("w1")
    val src = Tables.load(spark, dir, "supplier")
    DatasetWriter(GraftDataset(out, compression = "zstd"), WriteMode.Overwrite).write(spark, src)
    spark.read.parquet(out)
      .agg(count(lit(1)).as("n"),
        sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("total_bal"))
  }
  val w1Sql: String =
    """SELECT COUNT(*) AS n,
      |CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal FROM supplier""".stripMargin

  // ---- W4: hive-partitioned write -------------------------------------
  def w4PartitionedWrite(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("w4")
    val ds = GraftDataset(out, partitioning = Seq("o_orderstatus"))
    DatasetWriter(ds, WriteMode.Overwrite).write(spark, Tables.load(spark, dir, "orders"))
    spark.read.parquet(out) // hive partition discovery on read-back
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }
  val w4Sql: String =
    "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"

  // ---- W5: write modes raise/overwrite/append -------------------------
  def w5WriteModes(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("w5")
    val ds = GraftDataset(out)
    val region = Tables.load(spark, dir, "region")
    val n1 = DatasetWriter(ds, WriteMode.Raise).write(spark, region)
    val raised = try { DatasetWriter(ds, WriteMode.Raise).write(spark, region); false }
      catch { case _: IllegalStateException => true }
    DatasetWriter(ds, WriteMode.Append).write(spark, region)
    val afterAppend = ds.df(spark).count()
    DatasetWriter(ds, WriteMode.Overwrite).write(spark, region)
    val afterOverwrite = ds.df(spark).count()
    import spark.implicits._
    Seq(("append_doubles", afterAppend), ("overwrite_resets", afterOverwrite),
      ("first_write", n1), ("raise_raised", if (raised) 1L else 0L))
      .toDF("op", "n").orderBy("op")
  }
  val w5Sql: String =
    """SELECT * FROM (
      |  SELECT 'append_doubles' AS op, 2*COUNT(*) AS n FROM region
      |  UNION ALL SELECT 'overwrite_resets', COUNT(*) FROM region
      |  UNION ALL SELECT 'first_write', COUNT(*) FROM region
      |  UNION ALL SELECT 'raise_raised', 1
      |) ORDER BY op""".stripMargin

  // ---- W6: delta write (idempotent append) ----------------------------
  def w6DeltaWrite(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("w6")
    val ds = GraftDataset(out)
    val orders = Tables.load(spark, dir, "orders")
    val base = orders.filter(col("o_orderkey") % 3 =!= 0)
    DatasetWriter(ds, WriteMode.Delta).write(spark, base)
    // full set again: only the missing third may land
    val n2 = DatasetWriter(ds, WriteMode.Delta).write(spark, orders)
    // third delta of identical data must be a no-op
    val n3 = DatasetWriter(ds, WriteMode.Delta).write(spark, orders)
    // keyed delta: changed payloads on existing keys are NOT re-appended
    val n4 = DatasetWriter(ds, WriteMode.Delta).withDeltaSubset("o_orderkey")
      .write(spark, orders.withColumn("o_totalprice", col("o_totalprice") + 1))
    import spark.implicits._
    Seq(("delta_filled_gap", n2), ("delta_idempotent", n3),
      ("keyed_delta_noop", n4), ("final_rows", ds.df(spark).count()))
      .toDF("op", "n").orderBy("op")
  }
  val w6Sql: String =
    """SELECT * FROM (
      |  SELECT 'delta_filled_gap' AS op, COUNT(*) AS n FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL SELECT 'delta_idempotent', 0
      |  UNION ALL SELECT 'keyed_delta_noop', 0
      |  UNION ALL SELECT 'final_rows', COUNT(*) FROM orders
      |) ORDER BY op""".stripMargin

  // ---- W7: count-batched write bounds file sizes ----------------------
  def w7BatchCount(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("w7")
    val ds = GraftDataset(out)
    val src = Tables.load(spark, dir, "lineitem")
    DatasetWriter(ds, WriteMode.Overwrite).withBatchRows(10000).write(spark, src)
    import spark.implicits._
    // the batch-count evidence needs exact row/file counts, not a data
    // scan: footers answer rows (same zero-scan path as a5_counts;
    // 0.8 s of re-reading 61 files saved at sf0.1), the listing answers
    // files, and the count() fallback keeps non-parquet formats exact
    val rows = graft.sources.ParquetMeta.metadataRowCount(ds.df(spark))
      .getOrElse(ds.df(spark).count())
    Seq(("rows", rows), ("files", ds.dataFiles(spark).size.toLong))
      .toDF("stat", "n").orderBy("stat")
  }
  val w7Sql: String =
    """SELECT * FROM (
      |  SELECT 'rows' AS stat, COUNT(*) AS n FROM lineitem
      |  UNION ALL SELECT 'files', CAST(CEIL(COUNT(*) / 10000.0) AS BIGINT) FROM lineitem
      |) ORDER BY stat""".stripMargin

  // ---- W8: time-interval batched write --------------------------------
  def w8TimeBatch(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("w8")
    val ds = GraftDataset(out)
    DatasetWriter(ds, WriteMode.Overwrite).withTimeBatch("ts", "1d")
      .write(spark, Tables.load(spark, dir, "events"))
    spark.read.parquet(out)
      .groupBy(col("__time_bucket").cast("string").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }
  val w8Sql: String =
    """SELECT strftime(date_trunc('day', ts), '%Y%m%d_%H%M%S') AS bucket, COUNT(*) AS n
      |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---- W11: repartition pipeline --------------------------------------
  def w11Repartition(spark: SparkSession, dir: String): DataFrame = {
    val src = tmp("w11src"); val dst = tmp("w11dst")
    DatasetWriter(GraftDataset(src), WriteMode.Overwrite)
      .write(spark, Tables.load(spark, dir, "customer"))
    Repartition.run(spark, GraftDataset(src),
      GraftDataset(dst, partitioning = Seq("c_mktsegment")))
    spark.read.parquet(dst)
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }
  val w11Sql: String =
    "SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"

  // ---- W13: partition-scoped small-file compaction ---------------------
  /** Write customer hive-partitioned in tiny row batches (every
    * partition accretes several small files — the streaming-sink /
    * incremental-append shape), compact, read back: content must equal
    * the source exactly. The operator's structural guarantees (fewer
    * files, untouched-partition mtimes, partition-pruned rewrite scan)
    * are asserted in CompactSpec — the oracle proves losslessness. */
  def w13Compact(spark: SparkSession, dir: String): DataFrame = {
    val dst = tmp("w13")
    val ds = GraftDataset(dst, partitioning = Seq("c_mktsegment"))
    val customer = Tables.load(spark, dir, "customer")
    // fragment relative to table size so the fixture fractures at EVERY
    // scale factor (a fixed 100-row batch stops fragmenting once
    // partitions drop under 100 rows, e.g. sf0.001's 30-row segments);
    // size comes from footer metadata, not a count job. ~50 fragments
    // (was 150): the write floor is per-FILE (~10 ms each, measured
    // flat across codec/parallelism variants — OPTIMIZATION_r19.md), and
    // ten small files per segment prove compaction exactly as well as
    // thirty; compact's have>want rule triggers either way.
    val batch = math.max(1L,
      graft.sources.ParquetMeta.metadataRowCount(customer)
        .getOrElse(customer.count()) / 50)
    DatasetWriter(ds, WriteMode.Overwrite, batchRows = Some(batch))
      .write(spark, customer)
    val stats = Repartition.compact(spark, ds)
    require(stats.partitionsCompacted > 0 && stats.filesAfter < stats.filesBefore,
      s"w13: compaction was a no-op ($stats) — fixture no longer fragments")
    spark.read.parquet(dst)
      .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
      .orderBy("c_custkey")
  }
  val w13Sql: String =
    "SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer ORDER BY c_custkey"

  // ---- W14: clustered write + row-group skipping proof ----------------
  /** Write-time clustering as a contract surface: lineitem lands with
    * `withClusterBy("l_shipdate")` (task-local sort, no extra shuffle),
    * then the query PROVES the layout pays by reading the parquet
    * footers — a ship-date range must leave some row groups entirely
    * outside its bounds (skippable), which hash-ordered arrival data
    * in the same layout would not. The oracle checks the range
    * aggregation over the round-tripped data; `skip_proven` carries
    * the footer evidence into the compared result. */
  def w14ClusteredWrite(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("w14")
    val ds = GraftDataset(out)
    val li = Tables.load(spark, dir, "lineitem")
    // hash-repartition first: worst-case (scattered) arrival order, so
    // ONLY the writer's clustering can make the stats selective.
    // Row-group rows scale with the table (footer count, no count job):
    // a fixed 200 meant ~25 KB groups — ~1,800 row groups at sf0.1 and
    // 5.7 s of parquet flush overhead on a 1.4 s write (measured,
    // OPTIMIZATION_r19.md) — while the skip PROOF only needs enough
    // groups that a 3-month window leaves some outside its bounds.
    // rows/150 keeps ~90+ groups at every sf ≥ 0.01 and the 200 floor
    // keeps sf0.001 at its proven-green layout.
    val liRows = graft.sources.ParquetMeta.metadataRowCount(li).getOrElse(li.count())
    DatasetWriter(ds, WriteMode.Overwrite,
        rowGroupSize = Some(math.max(200L, liRows / 150)))
      .withClusterBy("l_shipdate")
      .write(spark, li.repartition(4, col("l_orderkey")))

    // Stats unit comes from the column's OWN logical type annotation
    // (Spark rewrites the fixture's timestamp[ms] as TIMESTAMP(MICROS));
    // hard-coding a unit here once made the proof vacuous — bounds in
    // the wrong unit miss every row group and `hit < total` holds for
    // ANY layout. The hit>0 require below keeps it honest either way.
    val ranges = graft.sources.ParquetMeta.footerBlocks(spark, ds.dataFiles(spark)) { b =>
      val c = graft.sources.ParquetMeta.blockColumn(b, "l_shipdate")
      val unit = String.valueOf(c.getPrimitiveType.getLogicalTypeAnnotation)
      val s = c.getStatistics
      def toDays(v: AnyRef): Long = (v, unit) match {
        case (i: Integer, u) if u.contains("DATE") => i.toLong // INT32 days
        case (l: java.lang.Long, u) if u.contains("NANOS") => l / 86400000000000L
        case (l: java.lang.Long, u) if u.contains("MICROS") => l / 86400000000L
        case (l: java.lang.Long, u) if u.contains("MILLIS") => l / 86400000L
        case other => throw new IllegalStateException(
          s"w14: unexpected l_shipdate stat/type $other")
      }
      (toDays(s.genericGetMin.asInstanceOf[AnyRef]),
        toDays(s.genericGetMax.asInstanceOf[AnyRef]))
    }
    val (lo, hi) = (java.time.LocalDate.parse("1995-01-01").toEpochDay,
      java.time.LocalDate.parse("1995-03-31").toEpochDay)
    val hit = ranges.count { case (mn, mx) => mx >= lo && mn <= hi }
    require(ranges.size >= 8, s"w14: only ${ranges.size} row groups — fixture too small to prove skipping")
    require(hit > 0, s"w14: range hit ZERO of ${ranges.size} row groups — stats-unit bug, " +
      "the Jan-Mar 1995 data exists so a correct comparison must overlap something")
    val skipProven = hit < ranges.size

    spark.read.parquet(out)
      .filter(col("l_shipdate").between("1995-01-01", "1995-03-31"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .select(col("n_rows"), col("sum_qty"),
        lit(if (skipProven) 1 else 0).as("skip_proven"))
  }
  val w14Sql: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  1 AS skip_proven
      |FROM lineitem
      |WHERE l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'""".stripMargin

  // ---- W15: z-order write + two-dimension skipping proof --------------
  /** Z-order as a contract surface: lineitem lands arranged on the
    * Morton curve over (l_partkey, l_suppkey); the query reads parquet
    * footers and proves a BOX predicate leaves row groups skippable on
    * both dimensions at once — the property lexicographic clustering
    * cannot give the second column. Oracle checks the box aggregation;
    * `skip_proven` carries the footer evidence. */
  def w15ZorderWrite(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("w15")
    val ds = GraftDataset(out)
    val li = Tables.load(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_quantity")
    // Scale-adaptive row groups (see w14): rows/400 — gentler than w14
    // because only 3 narrow dictionary-friendly columns land here, so
    // the same block bytes hold far more rows; the 200 floor keeps the
    // small fixtures at their proven-green layout and the ≥8-groups
    // require below stays the honesty gate.
    val liRows = graft.sources.ParquetMeta.metadataRowCount(li).getOrElse(li.count())
    DatasetWriter(ds, WriteMode.Overwrite,
        rowGroupSize = Some(math.max(200L, liRows / 400)))
      .write(spark, graft.ds.ZOrder.arrange(li, Seq("l_partkey", "l_suppkey"),
        bits = 10, numPartitions = Some(4)))

    // ONE footer pass yielding BOTH columns' (min,max) per row group:
    // alignment between the two dimensions is structural (same block
    // object), not a coincidence of two independent listings ordering
    // identically — and the footer IO is half of a per-column pass
    val bothRanges: Seq[((Long, Long), (Long, Long))] =
      graft.sources.ParquetMeta.footerBlocks(spark, ds.dataFiles(spark)) { b =>
        def rng(column: String): (Long, Long) = {
          val s = graft.sources.ParquetMeta.blockColumn(b, column).getStatistics
          (s.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
            s.genericGetMax.asInstanceOf[java.lang.Long].longValue())
        }
        (rng("l_partkey"), rng("l_suppkey"))
      }
    val (plo, phi, slo, shi) = (100L, 300L, 5L, 15L)
    val boxHits = bothRanges.map {
      case ((pmn, pmx), (smn, smx)) =>
        pmx >= plo && pmn <= phi && smx >= slo && smn <= shi
    }
    require(boxHits.size >= 8, s"w15: only ${boxHits.size} row groups — fixture too small")
    val hit = boxHits.count(identity)
    require(hit > 0, s"w15: box hit ZERO of ${boxHits.size} row groups — " +
      "the box contains data, so a correct stats comparison must overlap something")
    val skipProven = hit < boxHits.size

    spark.read.parquet(out)
      .filter(col("l_partkey").between(plo, phi) && col("l_suppkey").between(slo, shi))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .select(col("n_rows"), col("sum_qty"),
        lit(if (skipProven) 1 else 0).as("skip_proven"))
  }
  val w15Sql: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  1 AS skip_proven
      |FROM lineitem
      |WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 5 AND 15""".stripMargin

  // ---- W16: bloom-indexed delta ingest --------------------------------
  /** Bloom key index as a contract surface: a dataset seeded with even
    * customer keys takes an overlapping delta (only odd keys may land),
    * an idempotency re-run (zero rows), and an all-new shifted batch
    * (the sidecar fast path that never scans the existing data — plan
    * behavior asserted in BloomIndexSpec; semantics oracled here). */
  def w16BloomDelta(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("w16")
    val ds = GraftDataset(out)
    val cust = Tables.load(spark, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    val w = DatasetWriter(ds).withDeltaSubset("c_custkey").withBloomIndex
    w.write(spark, cust.filter(col("c_custkey") % 2 === 0))
    val deltaNew = w.withMode(WriteMode.Delta).write(spark, cust)
    val deltaRerun = w.withMode(WriteMode.Delta).write(spark, cust)
    val shifted = cust.select((col("c_custkey") + lit(10000000L)).as("c_custkey"),
      col("c_name"), col("c_acctbal"))
    val allNew = w.withMode(WriteMode.Delta).write(spark, shifted)
    spark.read.parquet(out)
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("c_custkey")).as("distinct_keys"))
      .select(col("n_rows"), col("distinct_keys"),
        lit(deltaNew).as("delta_new"), lit(deltaRerun).as("delta_rerun"),
        lit(allNew).as("delta_allnew"))
  }
  val w16Sql: String =
    """SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(2 * COUNT(*) AS BIGINT) AS distinct_keys,
      |  CAST(SUM(CASE WHEN c_custkey % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS delta_new,
      |  CAST(0 AS BIGINT) AS delta_rerun,
      |  CAST(COUNT(*) AS BIGINT) AS delta_allnew
      |FROM customer""".stripMargin

  // ---- W18: file-stats index + scan-time file pruning -----------------
  /** [[graft.ds.StatsIndex]] as a contract surface: lineitem lands
    * range-arranged on l_shipdate (so per-file ranges are narrow), the
    * sidecar records each file's footer min/max once, and a ship-date
    * range query then scans the PRUNED file list — the driver decides
    * which files exist for Spark from one sidecar read, before listing
    * semantics, row groups, or footers enter the picture. Pruning is a
    * superset guarantee (StatsIndexSpec proves the safety properties);
    * the oracle checks the aggregate over the pruned scan equals the
    * full-table answer, and `skip_proven` carries the file-count
    * evidence. */
  def w18StatsSkip(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("w18")
    val ds = GraftDataset(out)
    val li = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_shipdate", "l_quantity")
    DatasetWriter(ds, WriteMode.Overwrite)
      .withClusterBy("l_shipdate")
      .write(spark, li.repartitionByRange(16, col("l_shipdate")))
    graft.ds.StatsIndex.build(spark, ds, Seq("l_shipdate"))
    // Instant literals: timezone-exact TIMESTAMP bounds (the session is
    // UTC; Timestamp.valueOf would depend on the JVM default zone)
    val pred =
      col("l_shipdate") >= lit(java.time.Instant.parse("1995-01-01T00:00:00Z")) &&
        col("l_shipdate") < lit(java.time.Instant.parse("1995-04-01T00:00:00Z"))
    val total = ds.dataFiles(spark).size
    require(total >= 8, s"w18: only $total files — fixture too small to prove pruning")
    val pruned = ds.pruned(spark, pred)
    val skipProven = pruned.files.nonEmpty && pruned.files.size < total
    pruned.df(spark).filter(pred)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .select(col("n_rows"), col("sum_qty"),
        lit(if (skipProven) 1 else 0).as("skip_proven"))
  }
  val w18Sql: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  1 AS skip_proven
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1995-04-01 00:00:00'""".stripMargin

  // ---- W19: string-bounds file pruning --------------------------------
  /** W18's proof on a STRING-clustered layout — the other most common
    * lake key family: date-as-string (`yyyy-MM-dd` sorts like the date
    * it encodes), id prefixes. Lineitem lands range-arranged on a
    * ship-day STRING; the sidecar records raw-UTF-8 footer bounds
    * (valid even under spec truncation — [[graft.ds.StatsIndex]]'s
    * trust-model note); a string range predicate then scans the pruned
    * file list. Byte-order safety is property-tested in
    * StatsIndexPropertySpec; semantics are oracled here with
    * `skip_proven` carrying the file-count evidence. */
  def w19StringSkip(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("w19")
    val ds = GraftDataset(out)
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"),
        col("l_quantity"))
    DatasetWriter(ds, WriteMode.Overwrite)
      .withClusterBy("ship_day")
      .write(spark, li.repartitionByRange(16, col("ship_day")))
    graft.ds.StatsIndex.build(spark, ds, Seq("ship_day"))
    val pred = col("ship_day") >= lit("1995-01-01") && col("ship_day") < lit("1995-04-01")
    val total = ds.dataFiles(spark).size
    require(total >= 8, s"w19: only $total files — fixture too small to prove pruning")
    val pruned = ds.pruned(spark, pred)
    val skipProven = pruned.files.nonEmpty && pruned.files.size < total
    pruned.df(spark).filter(pred)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .select(col("n_rows"), col("sum_qty"),
        lit(if (skipProven) 1 else 0).as("skip_proven"))
  }
  val w19Sql: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  1 AS skip_proven
      |FROM lineitem
      |WHERE STRFTIME(l_shipdate, '%Y-%m-%d') >= '1995-01-01'
      |  AND STRFTIME(l_shipdate, '%Y-%m-%d') < '1995-04-01'""".stripMargin

  // ---- W20: AUTOMATIC stats pruning on SQL passthrough ----------------
  /** [[graft.ds.AutoPrune]] as a contract surface: the same clustered
    * layout + sidecar as w18, but the query side never touches the
    * graft API — a child session with [[graft.ds.StatsPruneRule]]
    * installed reads the directory with PLAIN `spark.read.parquet`,
    * registers a temp view, and runs plain SQL. The rule wraps the
    * relation's FileIndex, `FileSourceScanExec` hands its pushed data
    * filters to `listFiles`, and the sidecar drops the out-of-range
    * files — file skipping with zero query changes, the deployment
    * shape a SQL-only user gets from `spark.sql.extensions`.
    * `skip_proven` carries the executed-scan file-count evidence
    * (`numFiles` metric vs the dataset's full listing). */
  def w20AutoPrune(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("w20")
    val ds = GraftDataset(out)
    val li = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_shipdate", "l_quantity")
    DatasetWriter(ds, WriteMode.Overwrite)
      .withClusterBy("l_shipdate")
      .write(spark, li.repartitionByRange(16, col("l_shipdate")))
    graft.ds.StatsIndex.build(spark, ds, Seq("l_shipdate"))
    val total = ds.dataFiles(spark).size
    require(total >= 8, s"w20: only $total files — fixture too small to prove pruning")
    // isolated child session: the rule lives in ITS ExperimentalMethods,
    // the caller's planning pipeline is untouched
    val child = spark.newSession()
    graft.ds.AutoPrune.enable(child)
    child.read.parquet(ds.path).createOrReplaceTempView("w20_lineitem")
    val q = child.sql(
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM w20_lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1995-04-01 00:00:00'""".stripMargin)
    val row = q.collect().head
    val scanned = scannedFiles(q)
    val skipProven = scanned > 0 && scanned < total
    import spark.implicits._
    Seq((row.getLong(0), row.getDouble(1), if (skipProven) 1 else 0))
      .toDF("n_rows", "sum_qty", "skip_proven")
  }
  val w20Sql: String = w18Sql

  // ---- W21: parquet row-group bloom filters for point lookups ---------
  /** [[graft.ds.DatasetWriter.withRowGroupBloom]] as a contract
    * surface: lineitem lands under a globally-unique md5 document key
    * in NATURAL (unclustered) order — the shape where every row group's
    * min/max spans the whole key domain and neither the stats sidecar
    * nor footer ranges can skip anything — with row-group bloom filters
    * on that key. A point lookup (the GDPR/takedown shape: a handful of
    * ids against a big fact table) then reads back exactly; Spark's
    * parquet reader consumes the blooms automatically for the pushed IN
    * predicate, skipping row groups that definitely lack the keys.
    * `bloom_proven` asserts the filters physically exist in every
    * footer (offset recorded per doc_key chunk); RowGroupBloomSpec
    * proves the no-false-negative + low-fp semantics from the
    * deserialized filters. */
  def w21RowGroupBloom(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("w21")
    val ds = GraftDataset(out)
    // a globally-unique derived document key (the content-hash / uuid
    // id shape): dictionary encoding is INEFFECTIVE on all-unique
    // values, and the bloom contract writes the column plain so the
    // filters materialize at EVERY scale — left to parquet's
    // dictionary-fallback rule (a bloom is kept only once a chunk's
    // dictionary overflows; not the adaptive bloom SIZING the contract
    // uses for un-pinned columns), a tiny fixture's dictionary stays
    // under the page-size threshold and the bloom silently vanishes
    // (bloom_proven flipped to 0 at sf0.001 until round 19 made the
    // encoding explicit)
    val li = Tables.load(spark, dir, "lineitem")
      .select(md5(concat_ws("-", col("l_orderkey"), col("l_linenumber"))).as("doc_key"),
        col("l_quantity"))
    // No repartition: the scan's natural splits parallelize the write
    // with zero shuffle (one file per split, each in unclustered md5
    // order — min/max still span the whole domain per row group). The
    // old repartition(1) funneled the whole write through one task; it
    // was load-bearing only while bloom materialization rode parquet's
    // dictionary-fallback rule — with the contract forcing
    // plain encoding (round 19), blooms land in every file at every
    // scale, so the proof no longer needs a single-file layout.
    DatasetWriter(ds, WriteMode.Overwrite)
      .withRowGroupBloom("doc_key")
      .write(spark, li)
    val offsets = graft.sources.ParquetMeta.footerBlocks(spark, ds.dataFiles(spark))(
      b => graft.sources.ParquetMeta.blockColumn(b, "doc_key").getBloomFilterOffset)
    val proven = offsets.nonEmpty && offsets.forall(_ >= 0)
    def m(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    ds.df(spark)
      .filter(col("doc_key").isin(m("1-1"), m("3-1"), m("7-1"), m("9999999-9")))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .select(col("n_rows"), col("sum_qty"),
        lit(if (proven) 1 else 0).as("bloom_proven"))
  }
  val w21Sql: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  1 AS bloom_proven
      |FROM lineitem
      |WHERE MD5(CONCAT(l_orderkey, '-', l_linenumber))
      |  IN (MD5('1-1'), MD5('3-1'), MD5('7-1'), MD5('9999999-9'))""".stripMargin

  /** Files the EXECUTED scan read, summed over its FileSourceScanExecs
    * (AQE plans hide scans inside leaf query stages — unwrap both). */
  private def scannedFiles(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scan(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scan(a.executedPlan)
      case s: QueryStageExec => scan(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scan)
    }
    scan(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
  }

  // ---- W17: row-level delete (predicate + keyed purge) ----------------
  /** [[graft.ds.DatasetDelete]] as a contract surface: customer lands
    * hive-partitioned on market segment, then takes (1) a predicate
    * delete that empties no partition but touches all (negative
    * balances), (2) a keyed purge (the GDPR shape — a key list names
    * the doomed rows) that empties one whole partition. Partition-
    * scoped rewrite behavior is plan/FS-asserted in DatasetDeleteSpec;
    * the oracle checks the surviving rows and both deletion counts. */
  def w17DeleteWhere(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("w17")
    val ds = GraftDataset(out, partitioning = Seq("c_mktsegment"))
    val cust = Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    DatasetWriter(ds, WriteMode.Overwrite).write(spark, cust)
    val d1 = graft.ds.DatasetDelete.deleteWhere(spark, ds, col("c_acctbal") < 0)
    // keyed purge: every remaining BUILDING customer by explicit key list
    val doomedKeys = ds.df(spark)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val d2 = graft.ds.DatasetDelete.deleteByKeys(spark, ds, doomedKeys, Seq("c_custkey"))
    ds.df(spark)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
      .select(col("n_rows"), col("sum_bal"),
        lit(d1).as("deleted_pred"), lit(d2).as("deleted_keys"))
  }
  val w17Sql: String =
    """SELECT
      |  CAST(SUM(CASE WHEN c_acctbal >= 0 AND c_mktsegment <> 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
      |  CAST(SUM(CASE WHEN c_acctbal >= 0 AND c_mktsegment <> 'BUILDING' THEN CAST(c_acctbal AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS sum_bal,
      |  CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS deleted_pred,
      |  CAST(SUM(CASE WHEN c_acctbal >= 0 AND c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS deleted_keys
      |FROM customer""".stripMargin

  // ---- A2: sticky keep-first dedup ------------------------------------
  /** GraftDataset points at the source parquet directly — the dedup
    * operator is what's under test; dataset *writes* are covered by the
    * w-series queries (copying lineitem first just re-benchmarks W1). */
  def a2DedupFirst(spark: SparkSession, dir: String): DataFrame =
    GraftDataset(s"$dir/lineitem.parquet")
      .withDedup(Seq("l_orderkey"), SortSpec(Seq("l_linenumber" -> true)))
      .df(spark)
      .select("l_orderkey", "l_linenumber", "l_partkey")
      .orderBy("l_orderkey")
  // The synthetic lineitem has duplicate (l_orderkey, l_linenumber)
  // pairs, so the oracle must spell out the same deterministic tie-break
  // our sticky dedup pins: presort column first, then every remaining
  // column ascending in schema order.
  val a2Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey FROM (
      |  SELECT l_orderkey, l_linenumber, l_partkey,
      |    ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber,
      |      l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount,
      |      l_tax, l_returnflag, l_linestatus, l_shipdate) AS rn
      |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin

  // ---- P6: semi-filter by composite-key membership ---------------------
  def p6SemiFilter(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    val keys = Tables.load(spark, dir, "orders")
      .filter(col("o_totalprice") > 250000).select("o_orderkey")
    l.join(keys, l("l_orderkey") === keys("o_orderkey"), "left_semi")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }
  val p6Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey AND o_totalprice > 250000)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- E2: incremental view update old ∪ (new EXCEPT old) -------------
  def e2IncrementalUpdate(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders").select("o_orderkey", "o_orderstatus")
    val old = o.filter(col("o_orderkey") <= 7500)
    val fresh = o.filter(col("o_orderkey") > 2500)
    old.union(fresh.except(old))
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
  }
  val e2Sql: String =
    """SELECT COUNT(*) AS n, MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi FROM (
      |  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey <= 7500
      |  UNION
      |  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey > 2500)""".stripMargin

  // ---- T5/T8: TimeFly snapshot lifecycle + time travel ----------------
  def t8TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = tmp("timefly")
    val tf = new TimeFly(spark, root)
    tf.init("ttl")
    val cur = tf.currentDataset()
    val orders = Tables.load(spark, dir, "orders")
    DatasetWriter(cur, WriteMode.Overwrite).write(spark, orders.filter(col("o_orderkey") <= 5000))
    tf.addSnapshot(Instant.parse("2020-06-01T00:00:00Z"))
    DatasetWriter(cur, WriteMode.Append).write(spark, orders.filter(col("o_orderkey") > 5000))
    import spark.implicits._
    Seq(
      ("at_2020_01", tf.read(Some(Instant.parse("2020-01-01T00:00:00Z"))).df(spark).count()),
      ("at_2021_01", tf.read(Some(Instant.parse("2021-01-01T00:00:00Z"))).df(spark).count()),
      ("current", tf.read(None).df(spark).count()),
      ("snapshots", tf.availableSnapshots().size.toLong))
      .toDF("probe", "n").orderBy("probe")
  }
  val t8Sql: String =
    """SELECT * FROM (
      |  SELECT 'at_2020_01' AS probe, COUNT(*) AS n FROM orders WHERE o_orderkey <= 5000
      |  UNION ALL SELECT 'at_2021_01', COUNT(*) FROM orders
      |  UNION ALL SELECT 'current', COUNT(*) FROM orders
      |  UNION ALL SELECT 'snapshots', 1
      |) ORDER BY probe""".stripMargin

  // ---- T6/T7: snapshot delete + restore --------------------------------
  def t7SnapshotRestore(spark: SparkSession, dir: String): DataFrame = {
    val root = tmp("tf_restore")
    val tf = new TimeFly(spark, root)
    tf.init("restore_demo")
    val cur = tf.currentDataset()
    val orders = Tables.load(spark, dir, "orders")
    DatasetWriter(cur, WriteMode.Overwrite).write(spark, orders.filter(col("o_orderkey") <= 2500))
    val snapA = tf.addSnapshot(Instant.parse("2020-01-01T00:00:00Z"))
    DatasetWriter(cur, WriteMode.Overwrite).write(spark, orders)
    val snapB = tf.addSnapshot(Instant.parse("2021-01-01T00:00:00Z"))
    val fullCount = cur.df(spark).count()
    tf.loadSnapshot(snapA)                       // T7: restore over current/
    val restored = tf.currentDataset().df(spark).count()
    tf.deleteSnapshot(snapB)                     // T6: drop + tombstone
    import spark.implicits._
    Seq(
      ("full_before_restore", fullCount),
      ("restored", restored),
      ("snaps_left", tf.availableSnapshots().size.toLong))
      .toDF("probe", "n").orderBy("probe")
  }
  val t7Sql: String =
    """SELECT * FROM (
      |  SELECT 'full_before_restore' AS probe, COUNT(*) AS n FROM orders
      |  UNION ALL SELECT 'restored', COUNT(*) FROM orders WHERE o_orderkey <= 2500
      |  UNION ALL SELECT 'snaps_left', 1
      |) ORDER BY probe""".stripMargin

  // ---- W9: per-batch transform hook ------------------------------------
  def w9TransformWrite(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("w9")
    val band = when(col("o_totalprice") >= 200000, "high")
      .when(col("o_totalprice") >= 100000, "mid").otherwise("low")
    DatasetWriter(GraftDataset(out), WriteMode.Overwrite)
      .withTransform(_.withColumn("price_band", band))
      .write(spark, Tables.load(spark, dir, "orders"))
    spark.read.parquet(out)
      .groupBy("price_band").agg(count(lit(1)).as("n"))
      .orderBy("price_band")
  }
  val w9Sql: String =
    """SELECT CASE WHEN o_totalprice >= 200000 THEN 'high'
      |            WHEN o_totalprice >= 100000 THEN 'mid' ELSE 'low' END AS price_band,
      |  COUNT(*) AS n
      |FROM orders GROUP BY 1 ORDER BY price_band""".stripMargin

  // ---- F5: size-unit humanization --------------------------------------
  /** Deterministic twin of disk_usage reporting: humanize(count·1000)
    * per table (real directory byte sizes differ per engine/codec, so
    * the oracle-checkable surface is the conversion itself; the Hadoop
    * content-summary path is spec-tested in FeatherSpec). */
  def f5SizeUnits(spark: SparkSession, dir: String): DataFrame = {
    // same lazy-union shape as a5Counts: one job, five scan legs; the
    // humanization runs as a column expression on the 5-row aggregate
    val counts = Seq("region", "nation", "customer", "orders", "lineitem")
      .map(t => Tables.load(spark, dir, t)
        .agg(count(lit(1)).as("n")).select(lit(t).as("tbl"), col("n")))
      .reduce(_ unionByName _)
    counts
      .select(col("tbl"), graft.core.SizeUnits.humanizeCol(col("n") * 1000).as("human"))
      .orderBy("tbl")
  }
  val f5Sql: String =
    """SELECT tbl, CASE
      |    WHEN b < 1000 THEN CAST(b AS VARCHAR) || ' B'
      |    WHEN b < 1000000 THEN printf('%.1f KB', floor(b / 1000.0 * 10 + 0.5) / 10)
      |    WHEN b < 1000000000 THEN printf('%.1f MB', floor(b / 1000000.0 * 10 + 0.5) / 10)
      |    ELSE printf('%.1f GB', floor(b / 1000000000.0 * 10 + 0.5) / 10) END AS human
      |FROM (
      |  SELECT 'region' AS tbl, COUNT(*) * 1000 AS b FROM region
      |  UNION ALL SELECT 'nation', COUNT(*) * 1000 FROM nation
      |  UNION ALL SELECT 'customer', COUNT(*) * 1000 FROM customer
      |  UNION ALL SELECT 'orders', COUNT(*) * 1000 FROM orders
      |  UNION ALL SELECT 'lineitem', COUNT(*) * 1000 FROM lineitem
      |) ORDER BY tbl""".stripMargin

  // ---- S9: directory-flavor (bare-value) partitioning -------------------
  def s9DirectoryPartitioning(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("dirpart")
    val cust = Tables.load(spark, dir, "customer")
    DirectoryPartitioning.write(spark, cust, out, Seq("c_mktsegment"))
    val flavor = DirectoryPartitioning.inferFlavor(spark, out)
    DirectoryPartitioning.read(spark, out, Seq("c_mktsegment"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), countDistinct(col("c_custkey")).as("n_keys"))
      .withColumn("flavor", lit(flavor))
      .orderBy("c_mktsegment")
  }
  val s9Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n, COUNT(DISTINCT c_custkey) AS n_keys,
      |  'directory' AS flavor
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---- W10: schema-unify rewrite over heterogenous files ---------------
  def w10UnifyRewrite(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("w10")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val nation = Tables.load(spark, dir, "nation")
    // two physically different schemas of the same logical table
    nation.select(col("n_nationkey").cast("int").as("n_nationkey"), col("n_name"))
      .write.parquet(out + "/a")
    nation.select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
        col("n_regionkey")).write.parquet(out + "/b")
    val flat = new org.apache.hadoop.fs.Path(out + "/flat"); fs.mkdirs(flat)
    Seq("a", "b").foreach { sub =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/$sub"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .foreach(st => fs.rename(st.getPath,
          new org.apache.hadoop.fs.Path(flat, s"$sub-${st.getPath.getName}")))
    }
    val ds = GraftDataset(flat.toString)
    DatasetWriter.unifySchemaRewrite(spark, ds)
    spark.read.parquet(flat.toString) // plain read proves physical uniformity
      .agg(count(lit(1)).as("n"), sum("n_nationkey").as("key_sum"),
        count(col("n_regionkey")).as("non_null_region"))
  }
  // CAST: DuckDB's SUM(int) is HUGEINT, which the driver's hasher reads
  // as float64 — cast to BIGINT so both engines hash the same lattice.
  val w10Sql: String =
    """SELECT CAST(2*COUNT(*) AS BIGINT) AS n, CAST(2*SUM(n_nationkey) AS BIGINT) AS key_sum,
      |COUNT(*) AS non_null_region FROM nation""".stripMargin

  // ---- S3/W2: feather (Arrow IPC) write + read round-trip --------------
  def s3FeatherRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("feather") + ".arrow"
    graft.sources.FeatherIO.write(Tables.load(spark, dir, "nation"), out)
    graft.sources.FeatherIO.read(spark, out)
      .groupBy("n_regionkey").agg(count(lit(1)).as("n"),
        concat_ws(",", sort_array(collect_list(col("n_name")))).as("names"))
      .orderBy("n_regionkey")
  }
  val s3Sql: String =
    """SELECT n_regionkey, COUNT(*) AS n,
      |  string_agg(n_name, ',' ORDER BY n_name) AS names
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---- S10: Arrow IPC stream export (the to_arrow/to_polars edge) ------
  /** Round-trips customer through the Arrow IPC STREAM format (the
    * interchange bytes pyarrow/pandas/polars consume) and aggregates the
    * read-back — proves the export edge preserves values and nulls.
    * Decimal-lattice sum keeps the double aggregation cross-engine
    * deterministic (same pattern as t9). */
  def s10ArrowExport(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("arrowstream") + ".arrows"
    graft.sources.FeatherIO.writeStream(Tables.load(spark, dir, "customer"), out)
    graft.sources.FeatherIO.readStream(spark, out)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("bal"))
      .orderBy("c_mktsegment")
  }
  val s10Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---- S11/S12: json + orc datasets ------------------------------------
  /** JSON-lines dataset roundtrip through the generic format path: the
    * dataset layer is format-agnostic (reference is parquet/csv/feather;
    * json/orc come free with the Spark source API). */
  def s11JsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("s11")
    val ds = GraftDataset(out, format = "json")
    DatasetWriter(ds, WriteMode.Overwrite)
      .write(spark, Tables.load(spark, dir, "region"))
    ds.df(spark).select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"))
      .orderBy("r_regionkey")
  }
  val s11Sql: String =
    "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region ORDER BY r_regionkey"

  /** ORC roundtrip — same generic path, columnar format. */
  def s12OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("s12")
    val ds = GraftDataset(out, format = "orc")
    DatasetWriter(ds, WriteMode.Overwrite)
      .write(spark, Tables.load(spark, dir, "supplier"))
    ds.df(spark)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"),
        sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("bal"))
      .orderBy("s_nationkey")
  }
  val s12Sql: String =
    """SELECT s_nationkey, COUNT(*) AS n,
      |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  // ---- W12: keyed upsert (merge) ---------------------------------------
  /** Upsert semantics end to end: overwrite-write nation, then merge a
    * batch that renames keys < 5 and introduces keys 100/101. The final
    * dataset (read back, full rows) must equal the SQL reconstruction —
    * replaced rows replaced, new rows present, everything else intact. */
  def w12Upsert(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("w12")
    val ds = GraftDataset(out)
    val nation = Tables.load(spark, dir, "nation")
    DatasetWriter(ds, WriteMode.Overwrite).write(spark, nation)
    // cast the synthesized rows to nation's stored types: range() emits
    // bigint, and upsert (correctly) refuses a batch whose types differ
    // from the dataset — the merge rewrite would widen every stored row
    val nt = nation.schema.map(f => f.name -> f.dataType).toMap
    val updates = nation.filter(col("n_nationkey") < 5)
      .withColumn("n_name", concat(col("n_name"), lit("_V2")))
      .unionByName(spark.range(2).select(
        (col("id") + 100).cast(nt("n_nationkey")).as("n_nationkey"),
        concat(lit("NEW_"), col("id")).as("n_name"),
        lit(0L).cast(nt("n_regionkey")).as("n_regionkey")))
    DatasetWriter(ds, WriteMode.Upsert).withDeltaSubset("n_nationkey")
      .write(spark, updates)
    ds.df(spark).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy("n_nationkey")
  }
  val w12Sql: String =
    """SELECT n_nationkey, n_name, n_regionkey FROM (
      |  SELECT n_nationkey,
      |    CASE WHEN n_nationkey < 5 THEN n_name || '_V2' ELSE n_name END AS n_name,
      |    n_regionkey
      |  FROM nation
      |  UNION ALL SELECT 100, 'NEW_0', 0
      |  UNION ALL SELECT 101, 'NEW_1', 0)
      |ORDER BY n_nationkey""".stripMargin

  // ---- A3: min/max scalar aggregates (delta window bounds) -------------
  def a3MinMax(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .agg(to_date(min(col("l_shipdate"))).as("lo"),
        to_date(max(col("l_shipdate"))).as("hi"),
        count(lit(1)).as("n"))
  val a3Sql: String =
    """SELECT CAST(MIN(l_shipdate) AS DATE) AS lo, CAST(MAX(l_shipdate) AS DATE) AS hi,
      |COUNT(*) AS n FROM lineitem""".stripMargin

  // ---- A4: distinct partition-tuple enumeration ------------------------
  def a4PartitionEnum(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderpriority")).distinct()
      .orderBy("o_orderstatus", "o_orderpriority")
  val a4Sql: String =
    """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // ---- A5: row counts / shape across tables ----------------------------
  /** One lazy union of per-table count aggregates — a single job with
    * five parallel scan legs, not five sequential driver `count()`s. */
  def a5Counts(spark: SparkSession, dir: String): DataFrame =
    Seq("region", "nation", "customer", "orders", "lineitem")
      .map(t => Tables.load(spark, dir, t)
        .agg(count(lit(1)).as("n")).select(lit(t).as("tbl"), col("n")))
      .reduce(_ unionByName _)
      .orderBy("tbl")
  val a5Sql: String =
    """SELECT * FROM (
      |  SELECT 'region' AS tbl, COUNT(*) AS n FROM region
      |  UNION ALL SELECT 'nation', COUNT(*) FROM nation
      |  UNION ALL SELECT 'customer', COUNT(*) FROM customer
      |  UNION ALL SELECT 'orders', COUNT(*) FROM orders
      |  UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
      |) ORDER BY tbl""".stripMargin

  // ---- P5: cast round-trip (string-keyed delta subsets) ----------------
  def p5Cast(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "supplier")
      .select(
        col("s_suppkey").cast("string").as("key_str"),
        col("s_acctbal").cast("decimal(18,2)").cast("string").as("bal_str"),
        col("s_nationkey").cast("long").as("nk_long"))
      .orderBy(col("key_str"))
  val p5Sql: String =
    """SELECT CAST(s_suppkey AS VARCHAR) AS key_str,
      |  CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS bal_str,
      |  CAST(s_nationkey AS BIGINT) AS nk_long
      |FROM supplier ORDER BY key_str""".stripMargin

  // ---- T9/T10: lake catalog — multi-dataset SQL over the Manager -------
  def t9Catalog(spark: SparkSession, dir: String): DataFrame = {
    val lake = tmp("lake")
    val m = new graft.meta.Manager(spark, lake)
    m.init("bench_lake")
    DatasetWriter(GraftDataset(s"$lake/cust"), WriteMode.Overwrite)
      .write(spark, Tables.load(spark, dir, "customer"))
    DatasetWriter(GraftDataset(s"$lake/ords"), WriteMode.Overwrite)
      .write(spark, Tables.load(spark, dir, "orders"))
    m.addDataset("cust", s"$lake/cust")
    m.addDataset("ords", s"$lake/ords")
    m.registerAll()
    spark.sql(
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM ords JOIN cust ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }
  val t9Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---- T11: s5cmd-style bulk object ops (distributed cp/sync) ---------
  /** Mirrors the whole sf directory through FsOps' executor-parallel copy
    * (one task per object, biggest-first round-robin), proves the second
    * sync pass is a byte-level no-op, then answers an aggregate FROM THE
    * MIRROR — the oracle computes it from the originals, so any corrupted
    * or missing byte in the transfer breaks the hash match. */
  def t11ObjectOps(spark: SparkSession, dir: String): DataFrame = {
    val mirror = tmp("t11") + "/mirror"
    val copied = graft.sources.FsOps.cp(spark, dir, mirror)
    require(copied.files > 0, "object-ops mirror copied nothing")
    val again = graft.sources.FsOps.sync(spark, dir, mirror)
    require(again.files == 0, s"sync re-copied ${again.files} unchanged objects")
    spark.read.parquet(s"$mirror/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum("l_quantity").as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("l_returnflag")
  }
  val t11Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n_rows, SUM(l_quantity) AS sum_qty,
      |  ROUND(SUM(l_extendedprice), 2) AS sum_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t11_object_ops" -> (t11ObjectOps _),
    "s3_feather_roundtrip" -> (s3FeatherRoundtrip _),
    "s10_arrow_export" -> (s10ArrowExport _),
    "w12_upsert" -> (w12Upsert _),
    "s11_json_roundtrip" -> (s11JsonRoundtrip _),
    "s12_orc_roundtrip" -> (s12OrcRoundtrip _),
    "a3_minmax" -> (a3MinMax _),
    "a4_partition_enum" -> (a4PartitionEnum _),
    "a5_counts" -> (a5Counts _),
    "p5_cast" -> (p5Cast _),
    "t9_catalog" -> (t9Catalog _),
    "s4_csv_roundtrip" -> (s4CsvRoundtrip _),
    "s6_materialize" -> (s6Materialize _),
    "s7_path_relation" -> (s7PathRelation _),
    "w1_parquet_roundtrip" -> (w1ParquetRoundtrip _),
    "w4_partitioned_write" -> (w4PartitionedWrite _),
    "w5_write_modes" -> (w5WriteModes _),
    "w6_delta_write" -> (w6DeltaWrite _),
    "w7_batch_count" -> (w7BatchCount _),
    "w8_time_batch" -> (w8TimeBatch _),
    "w10_unify_rewrite" -> (w10UnifyRewrite _),
    "w11_repartition" -> (w11Repartition _),
    "w13_compact" -> (w13Compact _),
    "w14_clustered_write" -> (w14ClusteredWrite _),
    "w15_zorder_write" -> (w15ZorderWrite _),
    "w16_bloom_delta" -> (w16BloomDelta _),
    "w17_delete_where" -> (w17DeleteWhere _),
    "w18_stats_skip" -> (w18StatsSkip _),
    "w19_string_skip" -> (w19StringSkip _),
    "w20_autoprune" -> (w20AutoPrune _),
    "w21_rowgroup_bloom" -> (w21RowGroupBloom _),
    "a2_dedup_first" -> (a2DedupFirst _),
    "p6_semi_filter" -> (p6SemiFilter _),
    "e2_incremental_update" -> (e2IncrementalUpdate _),
    "t8_time_travel" -> (t8TimeTravel _),
    "t7_snapshot_restore" -> (t7SnapshotRestore _),
    "s9_directory_partitioning" -> (s9DirectoryPartitioning _),
    "w9_transform_write" -> (w9TransformWrite _),
    "f5_size_units" -> (f5SizeUnits _))

  val oracles: Map[String, String] = Map(
    "t11_object_ops" -> t11Sql,
    "s3_feather_roundtrip" -> s3Sql,
    "s10_arrow_export" -> s10Sql,
    "w12_upsert" -> w12Sql,
    "s11_json_roundtrip" -> s11Sql,
    "s12_orc_roundtrip" -> s12Sql,
    "a3_minmax" -> a3Sql,
    "a4_partition_enum" -> a4Sql,
    "a5_counts" -> a5Sql,
    "p5_cast" -> p5Sql,
    "t9_catalog" -> t9Sql,
    "s4_csv_roundtrip" -> s4Sql,
    "s6_materialize" -> s6Sql,
    "s7_path_relation" -> s7Sql,
    "w1_parquet_roundtrip" -> w1Sql,
    "w4_partitioned_write" -> w4Sql,
    "w5_write_modes" -> w5Sql,
    "w6_delta_write" -> w6Sql,
    "w7_batch_count" -> w7Sql,
    "w8_time_batch" -> w8Sql,
    "w10_unify_rewrite" -> w10Sql,
    "w11_repartition" -> w11Sql,
    "w13_compact" -> w13Sql,
    "w14_clustered_write" -> w14Sql,
    "w15_zorder_write" -> w15Sql,
    "w16_bloom_delta" -> w16Sql,
    "w17_delete_where" -> w17Sql,
    "w18_stats_skip" -> w18Sql,
    "w19_string_skip" -> w19Sql,
    "w20_autoprune" -> w20Sql,
    "w21_rowgroup_bloom" -> w21Sql,
    "a2_dedup_first" -> a2Sql,
    "p6_semi_filter" -> p6Sql,
    "e2_incremental_update" -> e2Sql,
    "t8_time_travel" -> t8Sql,
    "t7_snapshot_restore" -> t7Sql,
    "s9_directory_partitioning" -> s9Sql,
    "w9_transform_write" -> w9Sql,
    "f5_size_units" -> f5Sql)
}
