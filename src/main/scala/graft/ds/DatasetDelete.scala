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
  * nothing restores torn file sets):
  *  - ONE pruned scan finds where doomed rows live (predicate pushdown
  *    reaches the parquet scan for `deleteWhere`; the keyed variant
  *    pays one semi-join). Untouched partitions are never read fully,
  *    rewritten, or renamed.
  *  - Only partitions CONTAINING doomed rows are rewritten, via staged
  *    write + per-directory backup swap. Partitions emptied entirely
  *    are deleted without a rewrite.
  *  - Unpartitioned datasets rewrite via root swap — O(dataset), same
  *    as their upsert, and the reason big mutable datasets should be
  *    hive-partitioned.
  *
  * Crash consistency is [[Commit]]'s (per directory, same as upsert).
  * A re-run of the same delete converges (doomed rows already gone
  * count zero).
  *
  * Bloom sidecar: deleting rows can only SHRINK the live key set, so an
  * existing [[BloomIndex]] stays a superset — deleted keys linger as
  * false positives (an anti-join probe each). Both paths bump the
  * sidecar's deleted-count, so the occupancy trigger rebuilds the
  * filter over live rows once cumulative churn exceeds its budget.
  *
  * Predicate semantics follow SQL DELETE: rows where the predicate is
  * TRUE are removed; FALSE and NULL rows are kept. */
object DatasetDelete {

  /** Delete rows matching `predicate`. Returns rows deleted. */
  def deleteWhere(spark: SparkSession, target: GraftDataset, predicate: Column): Long = {
    val doom = coalesce(predicate, lit(false))
    deleteCore(spark, target,
      // filter BEFORE attaching input_file_name: the predicate pushes
      // into the scan (a nondeterministic projection below it would
      // block pushdown), and the file column still evaluates in the
      // scan stage — filter and project share the codegen stage
      doomedWithFile = df => df.filter(doom).withColumn("__f", input_file_name()),
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
        case Some(idx) => k0.filter(BloomIndex.mightContain(spark, idx))
        case None => k0
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def cond(df: DataFrame) = keyCols.map(c => df(c) <=> k(c)).reduce(_ && _)
    try deleteCore(spark, target,
      // input_file_name MUST be projected below the join (it reads the
      // task's current input file, only set in the scan stage — above
      // a shuffled join it evaluates to "")
      doomedWithFile = df => {
        val withF = df.withColumn("__f", input_file_name())
        withF.join(k, cond(withF), "left_semi")
      },
      keptOf = df => df.join(k, cond(df), "left_anti"),
      // LIMIT-1 over the (probed) key list only — zero dataset IO when
      // every doomed key is definitely absent
      earlyEmpty = () => k.isEmpty)
    finally k.unpersist()
  }

  /** Shared machinery. `doomedWithFile(existing)` = rows to delete WITH
    * a `__f` input-file column valid at the scan; `keptOf(existing)` =
    * rows to keep; `earlyEmpty` = a cheap in-lock check that the doomed
    * set is provably empty (bloom-probed key list) BEFORE any dataset
    * scan is planned. Runs under the dataset lock — a delete racing an
    * upsert/compact would interleave staged renames. */
  private def deleteCore(spark: SparkSession, target: GraftDataset,
      doomedWithFile: DataFrame => DataFrame,
      keptOf: DataFrame => DataFrame,
      earlyEmpty: () => Boolean = () => false): Long = {
    val fs = target.fs(spark)
    val root = new Path(target.path)
    if (!fs.exists(root)) return 0L
    DatasetLock.withLock(fs, root) {
      if (target.dataFiles(spark).isEmpty) 0L
      else if (earlyEmpty()) 0L
      else {
        val existing = target.df(spark)
        val partCols = target.partitioning
        if (partCols.isEmpty) deleteRootSwap(spark, fs, root, target, doomedWithFile, keptOf, existing)
        else deletePartitionScoped(spark, fs, root, target, doomedWithFile, keptOf, existing)
      }
    }
  }

  /** Unpartitioned: staged rewrite of kept rows + atomic root swap. */
  private def deleteRootSwap(spark: SparkSession, fs: FileSystem, root: Path,
      target: GraftDataset, doomedWithFile: DataFrame => DataFrame,
      keptOf: DataFrame => DataFrame, existing: DataFrame): Long = {
    val doomed = doomedWithFile(existing).count()
    if (doomed == 0) return 0L
    val tmp = Commit.staging(fs, root)
    val staged = GraftDataset(tmp.toString, format = target.format,
      compression = target.compression)
    // kept scans the LIVE target lazily — the staged write must fully
    // materialize before the swap touches it. The bloom contract rides
    // the staged writer: options re-applied, contract file staged and
    // promoted with the data.
    DatasetWriter(staged, WriteMode.Overwrite,
      clusterBy = target.clusterBy,
      rowGroupBloom = RowGroupBloom.load(fs, target.path))
      .writeUnlocked(spark, keptOf(existing))
    // the bloom filter carries with its deleted-count bumped: it stays
    // a superset (deleted keys linger as false positives), and the bump
    // lets the occupancy trigger rebuild it once churn exceeds the budget
    val carried = BloomIndex.load(fs, target.path)
      .map(idx => idx.copy(deleted = idx.deleted + doomed))
    Commit.swapRoot(spark, target, tmp, carried)
    carried.foreach(idx => BloomIndex.rebuildIfOverBudget(spark, target, idx))
    doomed
  }

  /** Hive-partitioned: rewrite ONLY partitions holding doomed rows. */
  private def deletePartitionScoped(spark: SparkSession, fs: FileSystem, root: Path,
      target: GraftDataset, doomedWithFile: DataFrame => DataFrame,
      keptOf: DataFrame => DataFrame, existing: DataFrame): Long = {
    val partCols = target.partitioning
    val qualifiedRoot = fs.makeQualified(root).toString
    // ONE job: per (partition values, file) doomed-row counts — the
    // partition VALUES drive the pruned kept-scan predicate, the FILE
    // paths give directory identity without re-implementing hive value
    // encoding (same trick as upsert), and the counts sum to the
    // return value
    val matched = doomedWithFile(existing)
      .groupBy(partCols.map(col) :+ col("__f"): _*)
      .agg(count(lit(1)).as("__n"))
      .collect()
    if (matched.isEmpty) return 0L
    require(matched.forall(r => r.getString(partCols.length).nonEmpty),
      "delete: input_file_name() returned an empty path for a matched row")
    val doomed = matched.map(_.getLong(partCols.length + 1)).sum
    val matchedDirs = matched.map { r =>
      val parent = fs.makeQualified(new Path(r.getString(partCols.length))).getParent.toString
      require(parent.startsWith(qualifiedRoot + "/"),
        s"delete: matched file $parent outside dataset root $qualifiedRoot")
      parent.stripPrefix(qualifiedRoot + "/")
    }.toSet
    val affectedVals = matched.map(_.toSeq.dropRight(2)).distinct
    val affectedPred = affectedVals
      .map(vs => partCols.zip(vs).map { case (c, v) => col(c) <=> lit(v) }.reduce(_ && _))
      .reduce(_ || _)

    // staged rewrite of the affected partitions' KEPT rows only — the
    // OR-of-equalities partition predicate folds into PartitionFilters,
    // so unaffected partitions are never read
    val tmp = Commit.staging(fs, root)
    val staged = GraftDataset(tmp.toString, format = target.format,
      partitioning = partCols, compression = target.compression)
    DatasetWriter(staged, WriteMode.Overwrite,
      clusterBy = target.clusterBy,
      rowGroupBloom = RowGroupBloom.load(fs, target.path))
      .writeUnlocked(spark, keptOf(existing.filter(affectedPred)))
    // partitions whose EVERY row was doomed stage nothing — promotion
    // deletes them outright (removing doomed rows early is exactly the
    // intended effect; a crash there leaves a consistent prefix)
    Commit.promotePartitions(fs, tmp, root, partCols.length, matchedDirs)
    // drop stats entries for rewritten/deleted files, index the staged
    // ones — O(staged files) footer IO inside the lock we already hold
    StatsIndex.maintain(spark, target)
    // partition swaps leave the root sidecar in place — bump its
    // deleted count so purge churn feeds the occupancy rebuild (the
    // filter itself stays a valid superset throughout)
    BloomIndex.load(fs, target.path).foreach { idx =>
      val bumped = BloomIndex.recordDeleted(fs, target.path, idx, doomed)
      BloomIndex.rebuildIfOverBudget(spark, target, bumped)
    }
    doomed
  }
}
