package graft.ds

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level DELETE — an extension past the reference (pydala datasets
  * only grow, get upserted, or get overwritten; see `dataset/writer.py`
  * modes), but the operation a 100 TB training-data lake cannot run
  * without: takedown/GDPR purges arrive as "remove these documents by
  * id" or "remove everything matching this predicate", and rewriting
  * the whole dataset per purge is O(lake).
  *
  * Scale shape — identical to the partition-scoped upsert
  * ([[DatasetWriter.upsertPartitionScoped]]), because the directory is
  * this lake's atomic unit ([[Commit]] swaps and recovers directories;
  * nothing restores torn file sets). Both shapes are one
  * [[Commit.rewrite]] of the kept rows and differ only in how they
  * count the doomed rows and in the scope they pass:
  *  - Hive-partitioned: ONE job counts doomed rows per partition value
  *    (predicate pushdown reaches the parquet scan for `deleteWhere`;
  *    the keyed variant pays one semi-join). Only partitions CONTAINING
  *    doomed rows are rewritten; partitions emptied entirely are
  *    deleted without a rewrite. Untouched partitions are never read
  *    fully, rewritten, or renamed.
  *  - Unpartitioned: one count, then a root rewrite — O(dataset), same
  *    as their upsert, and the reason big mutable datasets should be
  *    hive-partitioned.
  *
  * Steps and crash states are [[Commit.rewrite]]'s (per directory,
  * same as upsert). A re-run of the same delete converges (doomed rows
  * already gone count zero).
  *
  * Bloom sidecar: deleting rows can only SHRINK the live key set, so an
  * existing [[BloomIndex]] stays a superset — deleted keys linger as
  * false positives (an anti-join probe each). The rewrite carries it
  * with its deleted-count bumped, so the occupancy trigger rebuilds the
  * filter over live rows once cumulative churn exceeds its budget.
  *
  * Predicate semantics follow SQL DELETE: rows where the predicate is
  * TRUE are removed; FALSE and NULL rows are kept. */
object DatasetDelete {

  /** Delete rows matching `predicate`. Returns rows deleted. */
  def deleteWhere(spark: SparkSession, target: GraftDataset, predicate: Column): Long = {
    val doom = coalesce(predicate, lit(false))
    deleteCore(spark, target,
      doomedOf = df => df.filter(doom),
      keptOf = df => df.filter(!doom))
  }

  /** Delete rows whose `keyCols` tuple appears in `keys` (null-safe:
    * a NULL key deletes NULL-keyed rows — the same `<=>` rule delta
    * and upsert use). Returns rows deleted.
    *
    * Bloom fast path: with a [[BloomIndex]] sidecar recorded over
    * exactly `keyCols`, the doomed keys probe the filter FIRST — keys
    * definitely absent from the dataset drop out before any data scan
    * (the same map-side probe the delta write uses). The common GDPR
    * sweep — a big id list with little or no overlap — then costs
    * O(keys): a no-overlap purge reads ZERO data files, and a small
    * overlap pays the semi/anti joins with only the surviving keys.
    * Safe because the filter is a superset of live keys (no false
    * negatives), and ordered correctly because the probe is forced
    * lazily INSIDE the dataset lock — a key added by a writer we
    * serialized behind is in the sidecar before we read it. */
  def deleteByKeys(spark: SparkSession, target: GraftDataset,
      keys: DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "deleteByKeys needs key columns")
    val k0 = keys.select(keyCols.map(col): _*).distinct()
    // lazy: first use happens inside deleteCore's lock (earlyEmpty or
    // the closures), never before. PERSISTED at that first use: the
    // key frame feeds earlyEmpty, the doomed semi-join (which picks
    // the partitions to rewrite) and the kept anti-join (which decides
    // the survivors) — re-evaluating a non-deterministic caller plan
    // between those jobs could delete rows the doomed scan never
    // counted (the same pin DatasetWriter applies to upsert batches),
    // and even deterministic keys would pay the distinct+probe 3×.
    lazy val k = (BloomIndex.load(target.fs(spark), target.path)
      .filter(_.cols == keyCols) match {
        case Some(idx) => k0.filter(BloomIndex.mightContain(idx))
        case None => k0
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def cond(df: DataFrame) = keyCols.map(c => df(c) <=> k(c)).reduce(_ && _)
    try deleteCore(spark, target,
      doomedOf = df => df.join(k, cond(df), "left_semi"),
      keptOf = df => df.join(k, cond(df), "left_anti"),
      // LIMIT-1 over the (probed) key list only — zero dataset IO when
      // every doomed key is definitely absent
      earlyEmpty = () => k.isEmpty)
    finally k.unpersist()
  }

  /** Shared machinery. `doomedOf(existing)` = rows to delete;
    * `keptOf(existing)` = rows to keep; `earlyEmpty` = a cheap in-lock
    * check that the doomed set is provably empty (bloom-probed key list)
    * BEFORE any dataset scan is planned. Runs under the dataset lock — a delete racing an
    * upsert/compact would interleave staged renames. */
  private def deleteCore(spark: SparkSession, target: GraftDataset,
      doomedOf: DataFrame => DataFrame,
      keptOf: DataFrame => DataFrame,
      earlyEmpty: () => Boolean = () => false): Long = {
    val fs = target.fs(spark)
    val root = new Path(target.path)
    if (!fs.exists(root)) return 0L
    DatasetLock.withLock(fs, root) {
      if (target.dataFiles(spark).isEmpty) 0L
      else if (earlyEmpty()) 0L
      else rewriteKept(spark, fs, root, target, doomedOf, keptOf)
    }
  }

  /** Count the doomed rows, then rewrite the kept ones through
    * [[Commit.rewrite]]: the whole root when unpartitioned, else only
    * the partitions holding doomed rows. */
  private def rewriteKept(spark: SparkSession, fs: FileSystem, root: Path,
      target: GraftDataset, doomedOf: DataFrame => DataFrame,
      keptOf: DataFrame => DataFrame): Long = {
    val existing = target.df(spark)
    val partCols = target.partitioning
    val (doomed, kept, scope) =
      if (partCols.isEmpty) (doomedOf(existing).count(), keptOf(existing), Commit.Root)
      else {
        // ONE job: doomed-row counts per partition value — the values
        // drive the pruned kept-scan predicate and the counts sum to the
        // return value. Directory identity comes from the file index
        // ([[LivePartitions]], shared with the upsert), never from a
        // path string: those are URL-encoded and miss `p=a b` on disk.
        val matched = doomedOf(existing)
          .groupBy(partCols.map(col): _*)
          .agg(count(lit(1)).as("__n"))
          .collect()
        if (matched.isEmpty) return 0L
        val affected = LivePartitions.matching(partCols, matched.toSeq)
        // partitions whose EVERY row was doomed stage nothing —
        // promotion deletes them outright
        val emptied = LivePartitions.dirs(
          LivePartitions.of(spark, fs, root, existing, partCols).filter(affected))
        (matched.map(_.getLong(partCols.length)).sum, keptOf(existing.filter(affected)),
          Commit.Partitions(emptied))
      }
    if (doomed == 0) return 0L
    // the bloom filter carries with its deleted-count bumped: it stays a
    // superset (deleted keys linger as false positives), and the bump
    // lets the occupancy trigger rebuild it once churn exceeds the budget
    Commit.rewrite(spark, DatasetWriter(target.layout), kept, scope,
      BloomIndex.load(fs, target.path).map(idx => idx.copy(deleted = idx.deleted + doomed)))
    doomed
  }
}
