package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generic per-group top-k by a numeric measure — the "greatest N per
  * group" query every analytics surface needs, built on the bounded-
  * heap [[graft.plans.TopKPairs]] aggregate instead of a ranking
  * window.
  *
  * Why not `row_number().over(partitionBy(...).orderBy(...))`: the
  * window sorts EVERY row of every group through the exchange before
  * discarding all but k. The heap aggregate is map-side combinable —
  * each partition ships at most k candidates per group, so the shuffle
  * carries O(groups·k·partitions) rows instead of O(rows), and no
  * per-group sort ever materializes. At 100 TB with millions of
  * groups that is the difference between a partial-agg pipeline and a
  * full-data sort spill.
  *
  * Contract: rank orders by measure DESC, id ASC on ties (pinned by
  * the aggregate's comparator, spec-tested); measure is double, id is
  * long — callers encode composite ids into a long (and decode after)
  * the same way the ANN pipelines do. */
object TopK {

  /** One row per (group, rank ≤ k): groupCols*, rank, idCol, measureCol. */
  def perGroup(
      df: DataFrame, groupCols: Seq[String],
      measureCol: String, idCol: String, k: Int): DataFrame = {
    require(groupCols.nonEmpty, "perGroup: need at least one group column")
    val g = groupCols.map(col)
    df.groupBy(g: _*)
      .agg(graft.plans.GraftExpressions.topK(col(measureCol), col(idCol), k).as("__top"))
      .select(g :+ posexplode(col("__top")).as(Seq("__pos", "__p")): _*)
      .select(g ++ Seq(
        (col("__pos") + 1).cast("int").as("rank"),
        col("__p.id").as(idCol),
        col("__p.sim").as(measureCol)): _*)
  }
}
