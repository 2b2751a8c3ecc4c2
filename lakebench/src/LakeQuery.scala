package lakebench

import java.time.Instant
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.ds.{AutoPrune, DatasetWriter, GraftDataset, StatsIndex, WriteMode}
import graft.meta.{Manager, TimeFly}
import graft.sources.FeatherIO

/** The lake's read path: seven query classes over a static lake built
  * during set-up, in rounds of a seeded order with seeded parameters,
  * then one corpus-curation shard ([[Curation]]). Nothing writes to the
  * queried datasets, so their working set sits in the program's listing,
  * schema-group and stats caches once set-up has warmed them: a
  * write-path change should move only the curated-shard append here. */
final class LakeQuery(ctx: Ctx) extends Workload {
  import LakeQuery._
  private val spark = ctx.spark
  private val seed = ctx.seed
  private val parts = spark.sparkContext.defaultParallelism
  private val (orderRows, eventRows, mixedRows, lineFiles) =
    if (ctx.smoke) (5000L, 5000L, 2000L, 4) else (60000L, 100000L, 40000L, 16)

  private var lineitem: GraftDataset = _
  private var events: GraftDataset = _
  private var mixed: GraftDataset = _
  private var tf: TimeFly = _
  private var catalog: Manager = _
  private var snapAt: Seq[(Instant, Long)] = Nil // (probe, expected rows)
  private var totalFiles = Map.empty[String, Long]
  private val curation = new Curation(ctx)

  /** First result of each (class, param): the verify step recomputes it
    * with a plain read and compares. */
  private val results = mutable.LinkedHashMap.empty[(String, Int), Seq[String]]
  private var arrowBytes = Map.empty[Int, Array[Byte]]
  private var pruneKept = 0L
  private var pruneAll = 0L
  private var filesRead = 0L
  private var filesAddressed = 0L

  def setup(dir: java.nio.file.Path): Unit = {
    AutoPrune.enable(spark)
    lineitem = GraftDataset(dir.resolve("lineitem").toString)
    DatasetWriter(lineitem, WriteMode.Overwrite).withClusterBy("l_shipdate")
      .withRowGroupBloom("l_partkey")
      .write(spark, Gen.lineitem(spark, seed, orderRows, parts)
        .repartitionByRange(lineFiles, col("l_shipdate")))
    StatsIndex.build(spark, lineitem, Seq("l_shipdate"))
    val orders = GraftDataset(dir.resolve("orders").toString)
    DatasetWriter(orders, WriteMode.Overwrite).write(spark, Gen.orders(spark, seed, orderRows, parts))
    // one dataset, two file schemas: read back through schema unification
    mixed = GraftDataset(dir.resolve("mixed").toString)
    val half = mixedRows / 2
    DatasetWriter(mixed, WriteMode.Append).write(spark, Gen.events(spark, seed, 0, half, 0, parts)
      .select(col("event_id"), col("value"), col("event_type")))
    DatasetWriter(mixed, WriteMode.Append).write(spark, Gen.events(spark, seed, half, mixedRows, 0, parts)
      .select(col("event_id"), col("value").cast("float").as("value"), col("day")))
    // day-partitioned events under TimeFly: two versions with a copy
    // snapshot between them; `current` serves the partition and Arrow queries
    tf = new TimeFly(spark, dir.resolve("events").toString)
    tf.init("events")
    events = GraftDataset(tf.currentPath.toString, partitioning = Seq("day"))
    val step = eventRows / 2
    val t1 = Instant.ofEpochSecond(Gen.BaseEpoch + 86400L * 40)
    snapAt = Seq(1, 2).map { k =>
      DatasetWriter(events, WriteMode.Append).write(spark, Gen.events(spark, seed, (k - 1) * step, k * step, 0, parts))
      if (k < 2) tf.addSnapshot(t1.plusSeconds(3600L * k))
      (t1.plusSeconds(3600L * k - 60), k * step)
    }
    catalog = new Manager(spark, dir.toString)
    catalog.init("lake")
    catalog.addDataset("lineitem", lineitem.path)
    catalog.addDataset("orders", orders.path)
    catalog.addDataset("events", dir.resolve("events").toString)
    totalFiles = Map("lineitem" -> lineitem, "events" -> events, "mixed" -> mixed)
      .map { case (k, d) => k -> d.dataFiles(spark).size.toLong }
    partKeys = (0 until Params).map { p =>
      Gen.lineitem(spark, seed, orderRows, parts)
        .filter(col("l_orderkey") === (seed * 7919 + p * 104729) % orderRows && col("l_linenumber") === 1)
        .select("l_partkey").head().getLong(0)
    }
    curation.setup(dir.resolve("curation"))
  }

  /** Every class once, range_scan on both of its paths, and one shard. */
  def warmUp(): Unit = {
    for (c <- Classes) query(c, 0)
    query("range_scan", 1)
    curation.curate()
    results.clear()
  }

  /** Whole rounds until the deadline, at least one: the seven query
    * classes in a seeded order with seeded parameters. Then one curation
    * shard. */
  def run(): Unit = {
    pruneKept = 0; pruneAll = 0; filesRead = 0; filesAddressed = 0
    curation.startPhase()
    val rnd = new scala.util.Random(seed)
    var round = 0
    while (ctx.timeLeft || round == 0) {
      rnd.shuffle(Classes).foreach { c => ctx.op(s"query.$c") { query(c, rnd.nextInt(Params)); true } }
      round += 1
    }
    ctx.op("curate")(curation.curate())
  }

  /** Date window of a range parameter: 60 days at a seeded offset. */
  private def window(p: Int): (String, String) = {
    val d0 = java.time.LocalDate.parse("1994-01-01").plusDays(((seed * 131 + p * 577) % 2300).abs)
    (d0.toString, d0.plusDays(60).toString)
  }
  /** Part key of line 1 of a seeded order: a lookup that always hits. */
  private var partKeys = Seq.empty[Long]
  private def partKey(p: Int): Long = partKeys(p)
  private def days(p: Int): (Int, Int) = { val a = 1 + ((seed + p * 11) % 27).toInt; (a, a + 2) }

  /** The query of class `c` at parameter `p` through the public API. Its
    * first result is kept and compared with a plain read in [[verify]]. */
  private def query(c: String, p: Int): Unit = {
    val rows: Seq[Row] = c match {
      case "range_scan" =>
        val (lo, hi) = window(p)
        val pred = col("l_shipdate").between(lo, hi)
        if (p % 2 == 0) {
          val pruned = ctx.span("ds.pruned")(lineitem.pruned(spark, pred))
          pruneKept += (if (pruned.files.nonEmpty) pruned.files.size else totalFiles("lineitem"))
          pruneAll += totalFiles("lineitem")
          val df = ctx.span("ds.df_plan_warm")(pruned.df(spark))
          exec(df.filter(pred).agg(RangeAggs.head, RangeAggs.tail: _*), "lineitem")
        } else {
          ctx.span("meta.catalog")(catalog.registerAll())
          exec(spark.sql(s"SELECT count(*), sum(cast(l_extendedprice AS decimal(12,2))) " +
            s"FROM lineitem WHERE l_shipdate BETWEEN '$lo' AND '$hi'"), "lineitem")
        }
      case "point_lookup" =>
        val df = ctx.span("ds.df_plan_warm")(lineitem.df(spark))
        exec(df.filter(col("l_partkey") === partKey(p))
          .select("l_orderkey", "l_linenumber", "l_quantity"), "lineitem")
      case "partition_filter" =>
        val (a, b) = days(p)
        val df = ctx.span("ds.df_plan_warm")(events.df(spark))
        exec(df.filter(col("day").between(a, b)).groupBy("event_type").agg(EventAggs.head, EventAggs.tail: _*),
          "events")
      case "join_agg" =>
        val (lo, hi) = window(p)
        ctx.span("meta.catalog")(catalog.registerAll())
        exec(spark.sql(s"SELECT o_orderpriority, count(*), sum(cast(l_extendedprice AS decimal(12,2))) " +
          s"FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          s"WHERE l_shipdate BETWEEN '$lo' AND '$hi' GROUP BY o_orderpriority"), "lineitem")
      case "unified_read" =>
        val df = ctx.span("ds.unified_read")(mixed.df(spark))
        exec(df.filter(col("event_id") % Params === p)
          .agg(count(lit(1)), sum(col("value").cast("decimal(12,2)")), count(col("day")),
            count(col("event_type"))), "mixed")
      case "time_travel" =>
        val (probe, _) = snapAt(p % snapAt.size)
        val df = ctx.span("meta.timetravel")(tf.read(Some(probe)).df(spark))
        exec(df.agg(count(lit(1)), sum(col("value").cast("decimal(12,2)"))), "")
      case "arrow_export" =>
        val (a, _) = days(p)
        val df = ctx.span("ds.df_plan_warm")(events.df(spark))
          .filter(col("day") === a && col("user_id") < 500).select("event_id", "user_id", "value")
        val bytes = ctx.span("sources.arrow_export")(FeatherIO.collectAsArrow(df))
        if (!arrowBytes.contains(p)) arrowBytes += p -> bytes
        Seq(Row(bytes.length > 0))
    }
    if (!results.contains((c, p))) results((c, p)) = canonical(rows)
  }

  /** Plan (forced) and execute; counts files the scans read. */
  private def exec(df: DataFrame, dataset: String): Seq[Row] = {
    ctx.span("queries.plan")(df.queryExecution.executedPlan)
    val rows = ctx.span("queries.exec")(df.collect()).toSeq
    if (dataset.nonEmpty) {
      filesRead += Scans.filesRead(df)
      filesAddressed += totalFiles(dataset)
    }
    rows
  }

  def verify(checks: Checks): Unit = {
    // references: plain spark.read of the same directories, no pruning,
    // no schema unification, no catalog, no time-travel resolution
    def plain(d: GraftDataset) = spark.read.parquet(d.path)
    results.foreach { case ((c, p), got) =>
      val ref: Seq[Row] = c match {
        case "range_scan" =>
          val (lo, hi) = window(p)
          plain(lineitem).filter(col("l_shipdate").between(lo, hi))
            .agg(RangeAggs.head, RangeAggs.tail: _*).collect().toSeq
        case "point_lookup" =>
          plain(lineitem).filter(col("l_partkey") === partKey(p))
            .select("l_orderkey", "l_linenumber", "l_quantity").collect().toSeq
        case "partition_filter" =>
          val (a, b) = days(p)
          plain(events).filter(col("day").between(a, b)).groupBy("event_type")
            .agg(EventAggs.head, EventAggs.tail: _*).collect().toSeq
        case "join_agg" =>
          val (lo, hi) = window(p)
          plain(lineitem).filter(col("l_shipdate").between(lo, hi))
            .join(spark.read.parquet(catalog.load("orders").path), col("l_orderkey") === col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(count(lit(1)), sum(col("l_extendedprice").cast("decimal(12,2)"))).collect().toSeq
        case "unified_read" =>
          // each file read alone with its own schema, aligned by hand
          val all = Fs.parquetFiles(java.nio.file.Paths.get(mixed.path)).map { f =>
            val d = spark.read.parquet(f)
            d.select(col("event_id"), col("value").cast("double").as("value"),
              (if (d.columns.contains("day")) col("day") else lit(null).cast("int")).as("day"),
              (if (d.columns.contains("event_type")) col("event_type") else lit(null).cast("string"))
                .as("event_type"))
          }.reduce(_ unionByName _)
          all.filter(col("event_id") % Params === p)
            .agg(count(lit(1)), sum(col("value").cast("decimal(12,2)")), count(col("day")),
              count(col("event_type"))).collect().toSeq
        case "time_travel" =>
          val (_, n) = snapAt(p % snapAt.size)
          Seq(Row(n, Gen.events(spark, seed, 0, n, 0, parts)
            .agg(sum(col("value").cast("decimal(12,2)"))).head().get(0)))
        case "arrow_export" =>
          val (a, _) = days(p)
          val want = plain(events).filter(col("day") === a && col("user_id") < 500)
            .select("event_id", "user_id", "value").collect().toSeq
          val got = FeatherIO.readArrowBytes(spark, arrowBytes(p)).collect().toSeq
          Seq(Row(canonical(want) == canonical(got) && want.nonEmpty))
      }
      checks.expect(s"lake_query.$c.$p", canonical(ref), got)
    }
    curation.verify(checks)
  }

  def sizes: Map[String, Long] = Map("lineitem_orders" -> orderRows, "lineitem_files" -> lineFiles.toLong,
    "events_rows" -> eventRows, "mixed_rows" -> mixedRows) ++
    curation.sizes

  def report(phaseSeconds: Double): Report = {
    val lat = ctx.ops.collect { case o if o.kind.startsWith("query.") => o.seconds }.toSeq
    Report(
      unitOp = _.startsWith("query."),
      named = Seq(
        ("query_p50_s", Stats.median(lat), "s", lat.size),
        ("query_p90_s", Stats.quantile(lat, 0.9), "s", lat.size)) ++
        curation.named(ctx.latencies("curate").sum),
      layer = Classes.map { c =>
        val l = ctx.latencies(s"query.$c")
        s"query.${c}_p50_s" -> (if (l.isEmpty) 0.0 else Stats.median(l))
      }.toMap ++ curation.layer ++ Map(
        "ds.prune_kept_frac" -> (if (pruneAll > 0) pruneKept.toDouble / pruneAll else 0.0),
        "ds.files_scanned_frac" -> (if (filesAddressed > 0) filesRead.toDouble / filesAddressed else 0.0)))
  }
}

object LakeQuery {
  val Classes = Seq("range_scan", "point_lookup", "partition_filter", "join_agg",
    "unified_read", "time_travel", "arrow_export")
  val Params = 2
  val RangeAggs = Seq(count(lit(1)), sum(col("l_extendedprice").cast("decimal(12,2)")))
  val EventAggs = Seq(count(lit(1)), sum(col("value").cast("decimal(12,2)")))
  val LayerKeys = Classes.map(c => s"query.${c}_p50_s") ++
    Seq("ds.prune_kept_frac", "ds.files_scanned_frac") ++ Curation.LayerKeys

  /** Rows as sorted strings: an order-insensitive result fingerprint. */
  def canonical(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted
}

/** Files read by the parquet scans of an executed plan (AQE included). */
object Scans extends AdaptiveSparkPlanHelper {
  def filesRead(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
}
