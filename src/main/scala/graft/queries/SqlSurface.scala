package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The shared SQL surface (SURVEY.md §2.9): the reference exposes joins,
  * aggregates, windows, set ops and scalar functions to its users only via
  * DuckDB SQL passthrough; our engine exposes the same surface via the
  * DataFrame API + `spark.sql`. Each entry here is a declarative Catalyst
  * plan — filters and projections push into the parquet scan, aggregations
  * get map-side partial combine, and small-dimension joins broadcast.
  *
  * Cross-engine determinism rules (DuckDB oracle hash-compare):
  *  - SUM/AVG over doubles go through DECIMAL (exact, engine-order-
  *    independent) and come back as DOUBLE.
  *  - Timestamp-derived group keys are emitted as DATE or INT.
  *  - Every query ends in a deterministic total ORDER BY.
  */
object SqlSurface {

  /** Exact decimal SUM via [[graft.plans.GraftExpressions.sumDec128]]:
    * the HALF_UP cast (the cross-engine parity contract) is unchanged,
    * the accumulation is the exact 128-bit unscaled-integer sum instead
    * of per-row BigDecimal adds — bit-identical emitted value (pinned
    * by ExpressionsSpec), ~2× on the q1 aggregate shape (VERDICT.md,
    * "The optimization — `SumDec128`"). Builds the aggregate node directly, so it resolves on
    * whichever session runs the query. */
  private def sdec(c: Column): Column =
    graft.plans.GraftExpressions.sumDec128(c)
  /** Exact cross-engine sum of a 2-decimal double column. */
  private def dsum(c: Column): Column = sdec(c.cast("decimal(18,2)")).cast("double")
  /** Exact cross-engine sum of a derived product (≤4 true decimals). */
  private def dsum6(c: Column): Column = sdec(c.cast("decimal(22,6)")).cast("double")

  // ---------------------------------------------------------------- q1
  /** TPC-H Q1-style pricing summary: filter → groupBy → 8 aggregates →
    * sort. Flagship: scan-heavy, map-side-combinable, no join. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    l.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(22,6))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q3
  /** TPC-H Q3-style shipping priority: 3-way join + agg + top-k.
    * customer is small → broadcast; orders⋈lineitem shuffles on orderkey. */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
    val l = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"), col("o_orderpriority"))
      .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1995-03-15'
      |  AND l_shipdate > TIMESTAMP '1995-03-15'
      |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q5
  /** TPC-H Q5-style: 6-way star join. All dims broadcast; the single big
    * shuffle is lineitem⋈orders on orderkey. */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.load(spark, dir, "region")
    val n = Tables.load(spark, dir, "nation")
    val c = Tables.load(spark, dir, "customer")
    val s = Tables.load(spark, dir, "supplier")
    val o = Tables.load(spark, dir, "orders")
    val l = Tables.load(spark, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(s, l("l_suppkey") === s("s_suppkey"))
      .join(c,
        o("o_custkey") === c("c_custkey") && c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .filter(r("r_name") === "ASIA")
      .groupBy(n("n_name"))
      .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  val q5Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------- q6
  /** TPC-H Q6-style forecast revenue: pure scan+filter+scalar agg. The
    * whole predicate pushes into the parquet scan (row-group pruning). */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1994-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1995-01-01").cast("timestamp")
        && col("l_discount").between(0.05, 0.07)
        && col("l_quantity") < 24)
      .agg(dsum6(col("l_extendedprice") * col("l_discount")).as("revenue"))

  val q6Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(22,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1995-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  // ---------------------------------------------------------------- joins
  /** Join-kind coverage: inner/left/semi/anti in one query via per-kind
    * counts (SURVEY §2.7 — the reference gets joins only via SQL). */
  def joinKinds(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val big = Tables.load(spark, dir, "lineitem").filter(col("l_quantity") > 45)
      .select(col("l_orderkey")).distinct()
    val inner = o.join(big, o("o_orderkey") === big("l_orderkey")).count()
    val left = o.join(big, o("o_orderkey") === big("l_orderkey"), "left").count()
    val semi = o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi").count()
    val anti = o.join(big, o("o_orderkey") === big("l_orderkey"), "left_anti").count()
    import spark.implicits._
    Seq(("inner", inner), ("left", left), ("semi", semi), ("anti", anti))
      .toDF("join_kind", "n").orderBy("join_kind")
  }

  val joinKindsSql: String =
    """WITH big AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_quantity > 45)
      |SELECT * FROM (
      |  SELECT 'inner' AS join_kind, COUNT(*) AS n FROM orders JOIN big ON o_orderkey = l_orderkey
      |  UNION ALL
      |  SELECT 'left', COUNT(*) FROM orders LEFT JOIN big ON o_orderkey = l_orderkey
      |  UNION ALL
      |  SELECT 'semi', COUNT(*) FROM orders WHERE EXISTS (SELECT 1 FROM big WHERE l_orderkey = o_orderkey)
      |  UNION ALL
      |  SELECT 'anti', COUNT(*) FROM orders WHERE NOT EXISTS (SELECT 1 FROM big WHERE l_orderkey = o_orderkey)
      |) ORDER BY join_kind""".stripMargin

  // ---------------------------------------------------------------- window
  /** Window functions: rank customers by account balance within nation,
    * keep top 3. One shuffle on the partition key, then in-partition sort. */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables.load(spark, dir, "customer")
    val w = Window.partitionBy(col("c_nationkey")).orderBy(desc("c_acctbal"), col("c_custkey"))
    c.select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
        row_number().over(w).as("rn"),
        sum(col("c_acctbal").cast("decimal(18,2)"))
          .over(Window.partitionBy(col("c_nationkey"))).cast("double").as("nation_total"))
      .filter(col("rn") <= 3)
      .orderBy("c_nationkey", "rn")
  }

  val windowRankSql: String =
    """SELECT c_nationkey, c_custkey, c_acctbal, CAST(rn AS INT) AS rn, nation_total FROM (
      |  SELECT c_nationkey, c_custkey, c_acctbal,
      |    ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
      |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) OVER (PARTITION BY c_nationkey) AS DOUBLE) AS nation_total
      |  FROM customer) t
      |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin

  // ---------------------------------------------------------------- rollup
  /** Grouping sets via ROLLUP over order status/priority. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n"), col("total"))
      .orderBy("o_orderstatus", "o_orderpriority")

  val rollupAggSql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
      |       COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q17-ish
  /** Correlated-aggregate subquery (TPC-H Q17 pattern): lineitems below
    * 50% of their part's average quantity. Decorrelates to an agg+join;
    * the per-part averages side is small → broadcast by AQE. */
  def q17AvgSubquery(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    val avgQ = l.groupBy(col("l_partkey").as("p_key"))
      .agg((dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    l.join(avgQ, l("l_partkey") === avgQ("p_key"))
      .filter(col("l_quantity") < col("avg_qty") * 0.5)
      .agg((dsum(col("l_extendedprice")) / lit(7.0)).cast("double").as("avg_yearly"))
  }

  val q17Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem l1 JOIN (
      |  SELECT l_partkey AS p_key,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
      |  FROM lineitem GROUP BY l_partkey) a ON l1.l_partkey = a.p_key
      |WHERE l1.l_quantity < a.avg_qty * 0.5""".stripMargin

  // ---------------------------------------------------------------- having
  /** GROUP BY + HAVING: customers with more than 10 orders. */
  def havingAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
      .filter(col("n_orders") > 10)
      .orderBy(desc("n_orders"), col("o_custkey"))

  val havingAggSql: String =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      |FROM orders GROUP BY o_custkey HAVING COUNT(*) > 10
      |ORDER BY n_orders DESC, o_custkey""".stripMargin

  // ---------------------------------------------------------------- case/conditional
  /** Conditional aggregation (CASE WHEN inside agg) per ship month. */
  def caseAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy(year(col("l_shipdate")).as("ship_year"))
      .agg(
        count(when(col("l_returnflag") === "R", 1)).as("n_returned"),
        count(when(col("l_returnflag") =!= "R", 1)).as("n_kept"),
        dsum(when(col("l_returnflag") === "R", col("l_extendedprice")).otherwise(lit(0.0))).as("returned_value"))
      .orderBy("ship_year")

  val caseAggSql: String =
    """SELECT CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year,
      |  COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returned,
      |  COUNT(CASE WHEN l_returnflag <> 'R' THEN 1 END) AS n_kept,
      |  CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS returned_value
      |FROM lineitem GROUP BY 1 ORDER BY ship_year""".stripMargin

  // ---------------------------------------------------------------- string fns
  /** String function surface: upper/lower/substring/concat/like/length. */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "part")
      .filter(col("p_name").like("%gold%") || col("p_type").startsWith("STANDARD"))
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        substring(col("p_type"), 1, 8).as("type8"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        length(col("p_name")).as("name_len"))
      .orderBy("p_partkey")

  val stringFuncsSql: String =
    """SELECT p_partkey, UPPER(p_name) AS uname, SUBSTRING(p_type, 1, 8) AS type8,
      |  CONCAT(p_brand, '|', p_type) AS brand_type,
      |  CAST(LENGTH(p_name) AS INT) AS name_len
      |FROM part
      |WHERE p_name LIKE '%gold%' OR p_type LIKE 'STANDARD%'
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- date fns
  /** Date function surface: trunc/extract/diff on order dates. */
  def dateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy(
        year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"))
      .agg(
        count(lit(1)).as("n"),
        min(to_date(col("o_orderdate"))).as("first_day"),
        max(to_date(col("o_orderdate"))).as("last_day"))
      .orderBy("y", "q")

  val dateFuncsSql: String =
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
      |       CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS q,
      |       COUNT(*) AS n,
      |       MIN(CAST(o_orderdate AS DATE)) AS first_day,
      |       MAX(CAST(o_orderdate AS DATE)) AS last_day
      |FROM orders GROUP BY 1, 2 ORDER BY y, q""".stripMargin

  // ---------------------------------------------------------------- set ops
  /** Set operations: UNION / INTERSECT / EXCEPT on projected key sets. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val hi = Tables.load(spark, dir, "orders").filter(col("o_totalprice") > 100000)
      .select(col("o_custkey"))
    val urgent = Tables.load(spark, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    import spark.implicits._
    Seq(
      ("union", hi.union(urgent).distinct().count()),
      ("intersect", hi.intersect(urgent).count()),
      ("except", hi.distinct().except(urgent).count()))
      .toDF("set_op", "n").orderBy("set_op")
  }

  val setOpsSql: String =
    """WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 100000),
      |     urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |SELECT * FROM (
      |  SELECT 'union' AS set_op, COUNT(*) AS n FROM (SELECT o_custkey FROM hi UNION SELECT o_custkey FROM urgent)
      |  UNION ALL
      |  SELECT 'intersect', COUNT(*) FROM (SELECT DISTINCT o_custkey FROM hi INTERSECT SELECT DISTINCT o_custkey FROM urgent)
      |  UNION ALL
      |  SELECT 'except', COUNT(*) FROM (SELECT DISTINCT o_custkey FROM hi EXCEPT SELECT DISTINCT o_custkey FROM urgent)
      |) ORDER BY set_op""".stripMargin

  // ---------------------------------------------------------------- cte + passthrough
  /** Raw SQL passthrough (reference Q1 operator, reader.py:478-484):
    * a CTE query run verbatim through spark.sql over registered views. */
  def sqlPassthrough(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """WITH monthly AS (
        |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
        |         CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM orders GROUP BY 1, 2)
        |SELECT y, m, total FROM monthly WHERE total > 0 ORDER BY y, m""".stripMargin)
  }

  val sqlPassthroughSql: String =
    """WITH monthly AS (
      |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
      |         CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders GROUP BY 1, 2)
      |SELECT y, m, total FROM monthly WHERE total > 0 ORDER BY y, m""".stripMargin

  // ---------------------------------------------------------------- sort/limit
  /** Multi-column sort with mixed directions + limit (O1). */
  def sortMulti(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .orderBy(asc("c_mktsegment"), desc("c_acctbal"), asc("c_custkey"))
      .limit(100)

  val sortMultiSql: String =
    """SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment FROM customer
      |ORDER BY c_mktsegment ASC, c_acctbal DESC, c_custkey ASC LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q4
  /** TPC-H Q4-style order-priority check: EXISTS-correlated semi-join.
    * Catalyst rewrites the semi-join to a shuffled hash join on
    * o_orderkey; the date filter pushes into the orders scan. */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1996-04-01"))
    val l = Tables.load(spark, dir, "lineitem")
    o.join(l, o("o_orderkey") === l("l_orderkey") && l("l_shipdate") > o("o_orderdate"), "left_semi")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }
  val q4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q10
  /** TPC-H Q10-style returned-item report: 3-way join, revenue agg,
    * top-20. Customer/nation broadcast; lineitem never re-shuffles
    * after the orderkey join. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
    val c = Tables.load(spark, dir, "customer")
    val n = Tables.load(spark, dir, "nation")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)
  }
  val q10Sql: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q14
  /** TPC-H Q14-style promo revenue share: join + conditional agg into a
    * single scalar ratio. Part broadcasts; one shuffle total. */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-06-01") && col("l_shipdate") < lit("1996-07-01"))
    val p = Tables.load(spark, dir, "part")
    l.join(p, l("l_partkey") === p("p_partkey"))
      .agg((lit(100.0) *
        dsum6(when(col("p_type") === "PROMO", col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(lit(0.0))) /
        dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("promo_revenue"))
  }
  val q14Sql: String =
    """SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
      |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))) AS DOUBLE)
      |  / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS promo_revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-06-01' AND l_shipdate < TIMESTAMP '1996-07-01'""".stripMargin

  // ---------------------------------------------------------------- q19
  /** TPC-H Q19-style disjunctive predicate join: OR'd brand/size/
    * quantity clauses — exercises predicate normalization; the common
    * p_partkey = l_partkey conjunct still drives the (broadcast) join. */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    val p = Tables.load(spark, dir, "part")
    val clause = (p("p_brand") === "Brand#12" && p("p_size").between(1, 15) && l("l_quantity") <= 20) ||
      (p("p_brand") === "Brand#23" && p("p_size").between(1, 25) && l("l_quantity").between(10, 30)) ||
      (p("p_brand") === "Brand#15" && p("p_size").between(1, 40) && l("l_quantity") >= 25)
    l.join(p, l("l_partkey") === p("p_partkey") && clause)
      .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n"))
  }
  val q19Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity <= 20)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
      |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 40 AND l_quantity >= 25)""".stripMargin

  // ---------------------------------------------------------------- q7
  /** TPC-H Q7-style volume shipping: revenue flow between two customer
    * nations by ship year. Nation dims broadcast twice under different
    * aliases; the fact tables join once each. */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val s = Tables.load(spark, dir, "supplier")
    val n1 = Tables.load(spark, dir, "nation").select(
      col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val n2 = Tables.load(spark, dir, "nation").select(
      col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(s, l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n1), c("c_nationkey") === n1("c_nk"))
      .join(broadcast(n2), s("s_nationkey") === n2("s_nk"))
      .filter(col("cust_nation") =!= col("supp_nation"))
      .groupBy(col("cust_nation"), col("supp_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .filter(col("revenue") > 1000000)
      .orderBy("cust_nation", "supp_nation", "l_year")
  }
  val q7Sql: String =
    """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
      |  CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |WHERE n1.n_name <> n2.n_name
      |GROUP BY 1, 2, 3 HAVING revenue > 1000000
      |ORDER BY cust_nation, supp_nation, l_year""".stripMargin

  // ---------------------------------------------------------------- q8
  /** TPC-H Q8-style market share: NATION_3's share of EUROPE-customer
    * revenue by order year — conditional ratio over a 6-table join,
    * every dimension broadcast. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val s = Tables.load(spark, dir, "supplier")
    val n1 = Tables.load(spark, dir, "nation").select(
      col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
    val n2 = Tables.load(spark, dir, "nation").select(
      col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val r = Tables.load(spark, dir, "region").filter(col("r_name") === "EUROPE")
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(s, l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n1), c("c_nationkey") === n1("c_nk"))
      .join(broadcast(r), n1("c_rk") === r("r_regionkey"))
      .join(broadcast(n2), s("s_nationkey") === n2("s_nk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg((dsum6(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0.0))) /
        dsum6(vol)).as("mkt_share"))
      .orderBy("o_year")
  }
  val q8Sql: String =
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
      |  CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_3'
      |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(22,6))) AS DOUBLE)
      |  / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS mkt_share
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |GROUP BY 1 ORDER BY o_year""".stripMargin

  // ---------------------------------------------------------------- q15
  /** TPC-H Q15-style top supplier: revenue per supplier over a quarter,
    * then the max — the "view + filter on its aggregate" shape. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
    val s = Tables.load(spark, dir, "supplier")
    val rev = l.groupBy(col("l_suppkey"))
      .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("total_revenue"))
    val top = rev.agg(max(col("total_revenue")).as("mx"))
    rev.join(broadcast(top), rev("total_revenue") === top("mx"))
      .join(s, rev("l_suppkey") === s("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }
  val q15Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------- q18
  /** TPC-H Q18-style large-volume customers: orders whose lineitem
    * quantity total exceeds a threshold — aggregate-driven semi-join
    * back onto the fact tables. */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val big = l.groupBy(col("l_orderkey").as("big_okey"))
      .agg(dsum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 120)
    o.join(big, o("o_orderkey") === big("big_okey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("o_date"), col("o_totalprice"), col("total_qty"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(100)
  }
  val q18Sql: String =
    """SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
      |  o_totalprice, total_qty
      |FROM orders
      |JOIN (SELECT l_orderkey AS big_okey,
      |        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |      FROM lineitem GROUP BY l_orderkey HAVING total_qty > 120) ON o_orderkey = big_okey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q22
  /** TPC-H Q22-style sales opportunity: above-average-balance customers
    * with no RECENT orders — scalar subquery + filtered anti-join. */
  def q22NoOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val recent = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1999-01-01"))
    val avgBal = c.filter(col("c_acctbal") > 0)
      .agg((dsum(col("c_acctbal")) / count(lit(1))).as("ab"))
    c.join(broadcast(avgBal), c("c_acctbal") > col("ab"))
      .join(recent, c("c_custkey") === recent("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
      .orderBy("c_nationkey")
  }
  val q22Sql: String =
    """SELECT c_nationkey, COUNT(*) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer
      |WHERE c_acctbal > (
      |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |    FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------- json
  /** Semi-structured column surface: JSON property extraction from the
    * events.props string column (F-series scalar functions). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("k_sum"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"))
      .orderBy("event_type")
  val jsonExtractSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
      |  MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS k_min,
      |  MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS k_max
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- skew join
  /** Salted join (skew mitigation): lineitem salted over 4 buckets
    * against a replicated orders dimension — the planned-salting rewrite
    * for hot keys that AQE can't split. Output must be bit-identical to
    * the plain join, which is exactly what the oracle checks. */
  def skewJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_totalprice") > 200000)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    graft.operators.SkewJoin.saltedJoin(l, o, Seq("l_orderkey"), buckets = 4)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy("o_orderpriority")
  }
  val skewJoinSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_totalprice > 200000
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- asof join
  /** As-of join: each purchase picks up the user's most recent click at
    * or before the purchase timestamp — the point-in-time lookup Spark
    * lacks natively, implemented as the union+window composition (one
    * shuffle, no pairwise blow-up). DuckDB's native ASOF JOIN is the
    * oracle, so the exact boundary semantics (>=, per-key, backward)
    * are verified cross-engine. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max(col("value")).as("click_value"))
    graft.operators.AsOfJoin.asof(purchases, clicks, Seq("user_id"), "ts", "ts")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
        date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts_s"),
        round(col("asof_click_value"), 4).as("click_value_r"))
      .orderBy("event_id")
  }
  val asofJoinSql: String =
    """WITH r AS (
      |  SELECT user_id, ts, MAX(value) AS click_value FROM events
      |  WHERE event_type = 'click' GROUP BY user_id, ts),
      |l AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT l.event_id, l.user_id,
      |  strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
      |  strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts_s,
      |  round(r.click_value, 4) AS click_value_r
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- range join
  /** Range join: purchases falling inside any 2-hour post-signup window
    * of the same user. Executed as the bucketed equi-join decomposition
    * (hash join on (user, hour-bucket) + exact re-filter) instead of
    * the nested-loop inequality join Spark would otherwise plan. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value")
    val windows = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("w_end"))
    graft.operators.RangeJoin.pointInInterval(
        purchases, windows, Seq("user_id"), "ts", "w_start", "w_end",
        bucketSeconds = 3600L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("in_window_value"))
      .orderBy("user_id")
  }
  val rangeJoinSql: String =
    """SELECT p.user_id, COUNT(*) AS n,
      |  CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS in_window_value
      |FROM (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT user_id, ts AS s, ts + INTERVAL 2 HOUR AS e
      |      FROM events WHERE event_type = 'signup') w
      |  ON p.user_id = w.user_id AND p.ts >= w.s AND p.ts < w.e
      |GROUP BY p.user_id ORDER BY p.user_id""".stripMargin

  // ---------------------------------------------------------------- q2
  /** TPC-H Q2-style minimum-cost supplier: the correlated-min-subquery
    * shape. The fixture has no partsupp table, so unit cost is derived
    * as min(l_extendedprice/l_quantity) per (part, supplier). Scale
    * shape: the min runs on the (part, supplier)-grained aggregate
    * (already ≪ lineitem), suppliers/parts broadcast, and the
    * correlated min is a window over the narrowed join — one wide
    * shuffle total. */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val eu = Tables.load(spark, dir, "supplier")
      .join(broadcast(Tables.load(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.load(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val cost = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
    val p = Tables.load(spark, dir, "part")
      .filter(col("p_size") <= 10 && col("p_type") === "STANDARD")
      .select(col("p_partkey"), col("p_type"))
    val w = Window.partitionBy(col("p_partkey"))
    cost.join(eu, col("l_suppkey") === col("s_suppkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .withColumn("mc", min(col("unit_cost")).over(w))
      .filter(col("unit_cost") === col("mc"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_type"), col("unit_cost"))
      .orderBy(desc("s_acctbal"), col("s_name"), col("p_partkey"))
      .limit(20)
  }
  val q2Sql: String =
    """WITH eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier
      |    JOIN nation ON s_nationkey=n_nationkey JOIN region ON n_regionkey=r_regionkey
      |    WHERE r_name='EUROPE'),
      |cost AS (SELECT l_partkey, l_suppkey, MIN(l_extendedprice/l_quantity) AS unit_cost
      |    FROM lineitem GROUP BY 1,2),
      |x AS (SELECT p_partkey, p_type, s_name, s_acctbal, n_name, unit_cost,
      |        MIN(unit_cost) OVER (PARTITION BY p_partkey) AS mc
      |      FROM cost JOIN eu ON cost.l_suppkey=eu.s_suppkey JOIN part ON l_partkey=p_partkey
      |      WHERE p_size <= 10 AND p_type='STANDARD')
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_type, unit_cost FROM x
      |WHERE unit_cost = mc
      |ORDER BY s_acctbal DESC, s_name, p_partkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q9
  /** TPC-H Q9-style profit by nation and year (no partsupp → cost side
    * proxied from p_retailprice). 5-way join: only lineitem⋈orders
    * shuffles; supplier/nation/part broadcast. */
  def q9ProfitByNation(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val s = Tables.load(spark, dir, "supplier")
    val n = Tables.load(spark, dir, "nation")
    val p = Tables.load(spark, dir, "part").filter(col("p_name").contains("red"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        - lit(0.5) * col("p_retailprice") * col("l_quantity")).as("profit"))
      .orderBy(col("nation"), desc("o_year"))
  }
  val q9Sql: String =
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
      |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) - 0.5*p_retailprice*l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS profit
      |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
      |  JOIN supplier ON l_suppkey=s_suppkey JOIN nation ON s_nationkey=n_nationkey
      |  JOIN part ON l_partkey=p_partkey
      |WHERE p_name LIKE '%red%'
      |GROUP BY 1,2 ORDER BY nation, o_year DESC""".stripMargin

  // ---------------------------------------------------------------- q11
  /** TPC-H Q11-style important inventory: per-part value with a scalar-
    * subquery threshold (here 2× the mean value over ASIA-region
    * suppliers). The threshold is a 1-row broadcast crossJoin — the big
    * side is scanned once, aggregated once. */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val asia = Tables.load(spark, dir, "supplier")
      .join(broadcast(Tables.load(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.load(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("s_suppkey"))
    val de = Tables.load(spark, dir, "lineitem")
      .join(asia, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(22,6)")).as("val"))
    // deterministic threshold: val and Σval are decimal-EXACT (order-
    // independent) in both engines; each is then cast to double ONCE
    // and compared with identical IEEE ops. (Keeping the comparison in
    // decimal is not portable — val·n overflows DuckDB's width-38 cap
    // and silently falls back to double there anyway.)
    val thr = de.agg(sum(col("val")).cast("double").as("tot"), count(lit(1)).as("nparts"))
    de.join(broadcast(thr),
        col("val").cast("double") * col("nparts") > col("tot") * 2)
      .select(col("l_partkey").as("p_key"), col("val").cast("double").as("value"))
      .orderBy(desc("value"), col("p_key"))
  }
  val q11Sql: String =
    """WITH de AS (SELECT l_partkey, SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(22,6))) AS val
      |  FROM lineitem JOIN supplier ON l_suppkey=s_suppkey
      |    JOIN nation ON s_nationkey=n_nationkey JOIN region ON n_regionkey=r_regionkey
      |  WHERE r_name='ASIA' GROUP BY 1)
      |SELECT l_partkey AS p_key, CAST(val AS DOUBLE) AS value FROM de
      |WHERE CAST(val AS DOUBLE) * (SELECT COUNT(*) FROM de) > (SELECT CAST(SUM(val) AS DOUBLE) FROM de) * 2
      |ORDER BY value DESC, p_key""".stripMargin

  // ---------------------------------------------------------------- q12
  /** TPC-H Q12-style shipmode/priority matrix (no l_shipmode → the
    * band is the order→ship lag). CASE-conditional counts get map-side
    * combine; one shuffle on the band key. */
  def q12ShipLagPriority(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Seq("1-URGENT", "2-HIGH")
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(Tables.load(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .withColumn("lag", datediff(col("l_shipdate"), col("o_orderdate")))
      .withColumn("ship_band",
        when(col("lag") < 0, "early").when(col("lag") <= 60, "fast")
          .when(col("lag") <= 365, "slow").otherwise("very_late"))
      .groupBy("ship_band")
      .agg(sum(when(col("o_orderpriority").isin(urgent: _*), 1).otherwise(0)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin(urgent: _*), 1).otherwise(0)).as("low_line_count"))
      .orderBy("ship_band")
  }
  val q12Sql: String =
    """SELECT CASE WHEN lag < 0 THEN 'early' WHEN lag <= 60 THEN 'fast'
      |            WHEN lag <= 365 THEN 'slow' ELSE 'very_late' END AS ship_band,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM (SELECT datediff('day', o_orderdate, l_shipdate) AS lag, o_orderpriority
      |      FROM lineitem JOIN orders ON l_orderkey=o_orderkey
      |      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01')
      |GROUP BY 1 ORDER BY ship_band""".stripMargin

  // ---------------------------------------------------------------- q13
  /** TPC-H Q13-style customer order-count distribution: left join with
    * an ON-clause filter, two stacked aggregations. */
  def q13OrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders").filter(col("o_orderpriority") =!= "5-LOW")
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }
  val q13Sql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count FROM customer
      |  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      |  GROUP BY c_custkey)
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ---------------------------------------------------------------- q16
  /** TPC-H Q16-style supplier counts per part attribute (lineitem as
    * the part↔supplier bridge; negative-balance suppliers excluded the
    * way Q16 excludes complaint suppliers — a broadcast anti-join,
    * null-safe unlike NOT IN). */
  def q16SupplierCounts(spark: SparkSession, dir: String): DataFrame = {
    val sizes = Seq(1, 4, 9, 14, 19, 23, 36, 45)
    val p = Tables.load(spark, dir, "part")
      .filter(col("p_brand") =!= "Brand#45" && !col("p_type").startsWith("MEDIUM") &&
        col("p_size").isin(sizes: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val excl = Tables.load(spark, dir, "supplier")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    Tables.load(spark, dir, "lineitem")
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(excl, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
  }
  val q16Sql: String =
    """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#45' AND p_type NOT LIKE 'MEDIUM%'
      |  AND p_size IN (1,4,9,14,19,23,36,45)
      |  AND NOT EXISTS (SELECT 1 FROM supplier
      |                  WHERE s_acctbal < 0 AND s_suppkey = l_suppkey)
      |GROUP BY 1,2,3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // ---------------------------------------------------------------- q20
  /** TPC-H Q20-style excess-shipment suppliers: the nested-IN chain
    * (parts by name → quantities per (supplier, part) → supplier semi-
    * join). Every subquery side is broadcast-sized. */
  def q20ExcessShipments(spark: SparkSession, dir: String): DataFrame = {
    val redParts = Tables.load(spark, dir, "part")
      .filter(col("p_name").startsWith("red")).select(col("p_partkey"))
    val shippers = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(redParts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
      .filter(col("qty") > 50)
      .select(col("l_suppkey")).distinct()
    Tables.load(spark, dir, "supplier")
      .join(shippers, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.load(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"))
      .orderBy("s_name")
  }
  val q20Sql: String =
    """WITH shipped AS (
      |  SELECT l_suppkey, l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      |  FROM lineitem JOIN part ON l_partkey=p_partkey
      |  WHERE p_name LIKE 'red%'
      |    AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  GROUP BY 1,2)
      |SELECT s_name, n_name FROM supplier JOIN nation ON s_nationkey=n_nationkey
      |WHERE s_suppkey IN (SELECT l_suppkey FROM shipped WHERE qty > 50)
      |ORDER BY s_name""".stripMargin

  // ---------------------------------------------------------------- q21
  /** TPC-H Q21-style suppliers who kept orders waiting (late = shipped
    * >365 days after order). Q21's EXISTS / NOT-EXISTS pair is
    * re-expressed as per-order supplier/late counts — one extra
    * aggregation replaces two shuffled semi/anti self-joins, the
    * scale-correct plan; the oracle keeps the literal EXISTS form to
    * prove equivalence. */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val ls = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders").filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(datediff(col("l_shipdate"), col("o_orderdate")) > 365, 1).otherwise(0)).as("late"))
    val per = ls.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"))
    ls.filter(col("late") === 1)
      .join(per, Seq("l_orderkey"))
      .filter(col("n_supp") >= 2 && col("n_late") === 1)
      .join(Tables.load(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), col("s_name"))
      .limit(20)
  }
  val q21Sql: String =
    """WITH l1 AS (SELECT l_orderkey, l_suppkey,
      |    datediff('day', o_orderdate, l_shipdate) > 365 AS late
      |  FROM lineitem JOIN orders ON l_orderkey=o_orderkey WHERE o_orderstatus='F'),
      |ls AS (SELECT l_orderkey, l_suppkey, bool_or(late) AS late FROM l1 GROUP BY 1,2)
      |SELECT s_name, COUNT(*) AS numwait FROM ls a JOIN supplier ON a.l_suppkey=s_suppkey
      |WHERE a.late
      |  AND EXISTS (SELECT 1 FROM ls b WHERE b.l_orderkey=a.l_orderkey AND b.l_suppkey<>a.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM ls c WHERE c.l_orderkey=a.l_orderkey AND c.l_suppkey<>a.l_suppkey AND c.late)
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q2_min_cost_supplier" -> (q2MinCostSupplier _),
    "q9_profit_by_nation" -> (q9ProfitByNation _),
    "q11_important_parts" -> (q11ImportantParts _),
    "q12_ship_lag_priority" -> (q12ShipLagPriority _),
    "q13_order_distribution" -> (q13OrderDistribution _),
    "q16_supplier_counts" -> (q16SupplierCounts _),
    "q20_excess_shipments" -> (q20ExcessShipments _),
    "q21_waiting_suppliers" -> (q21WaitingSuppliers _),
    "j4_range_join" -> (rangeJoin _),
    "j3_asof_join" -> (asofJoin _),
    "j2_skew_join" -> (skewJoin _),
    "q4_order_priority" -> (q4OrderPriority _),
    "q7_volume_shipping" -> (q7VolumeShipping _),
    "q8_market_share" -> (q8MarketShare _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q22_no_orders" -> (q22NoOrders _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q14_promo_revenue" -> (q14PromoRevenue _),
    "q19_disjunctive" -> (q19Disjunctive _),
    "f3_json_extract" -> (jsonExtract _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q5_local_supplier" -> (q5LocalSupplier _),
    "q6_forecast_revenue" -> (q6ForecastRevenue _),
    "q17_avg_subquery" -> (q17AvgSubquery _),
    "j1_join_kinds" -> (joinKinds _),
    "w1_window_rank" -> (windowRank _),
    "g1_rollup" -> (rollupAgg _),
    "g2_having" -> (havingAgg _),
    "g3_case_agg" -> (caseAgg _),
    "f1_string_funcs" -> (stringFuncs _),
    "f2_date_funcs" -> (dateFuncs _),
    "e1_set_ops" -> (setOps _),
    "o1_sort_multi" -> (sortMulti _),
    "sql_passthrough" -> (sqlPassthrough _))

  val oracles: Map[String, String] = Map(
    "q2_min_cost_supplier" -> q2Sql,
    "q9_profit_by_nation" -> q9Sql,
    "q11_important_parts" -> q11Sql,
    "q12_ship_lag_priority" -> q12Sql,
    "q13_order_distribution" -> q13Sql,
    "q16_supplier_counts" -> q16Sql,
    "q20_excess_shipments" -> q20Sql,
    "q21_waiting_suppliers" -> q21Sql,
    "j4_range_join" -> rangeJoinSql,
    "j3_asof_join" -> asofJoinSql,
    "j2_skew_join" -> skewJoinSql,
    "q4_order_priority" -> q4Sql,
    "q7_volume_shipping" -> q7Sql,
    "q8_market_share" -> q8Sql,
    "q15_top_supplier" -> q15Sql,
    "q18_large_orders" -> q18Sql,
    "q22_no_orders" -> q22Sql,
    "q10_returned_items" -> q10Sql,
    "q14_promo_revenue" -> q14Sql,
    "q19_disjunctive" -> q19Sql,
    "f3_json_extract" -> jsonExtractSql,
    "q1_pricing_summary" -> q1Sql,
    "q3_shipping_priority" -> q3Sql,
    "q5_local_supplier" -> q5Sql,
    "q6_forecast_revenue" -> q6Sql,
    "q17_avg_subquery" -> q17Sql,
    "j1_join_kinds" -> joinKindsSql,
    "w1_window_rank" -> windowRankSql,
    "g1_rollup" -> rollupAggSql,
    "g2_having" -> havingAggSql,
    "g3_case_agg" -> caseAggSql,
    "f1_string_funcs" -> stringFuncsSql,
    "f2_date_funcs" -> dateFuncsSql,
    "e1_set_ops" -> setOpsSql,
    "o1_sort_multi" -> sortMultiSql,
    "sql_passthrough" -> sqlPassthroughSql)
}
