package graft.ds

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{IntervalParse, SchemaUnify}

/** Write modes (reference W5, `dataset/writer.py:113-124,185-256`). */
sealed trait WriteMode
object WriteMode {
  /** Error if the target already holds data (`SaveMode.ErrorIfExists`). */
  case object Raise extends WriteMode
  /** Remove target then write. */
  case object Overwrite extends WriteMode
  /** Plain append. */
  case object Append extends WriteMode
  /** Idempotent append: write only rows not already present (W6). */
  case object Delta extends WriteMode
  /** Keyed merge: incoming rows REPLACE existing rows sharing their key
    * (set via `withDeltaSubset`); unmatched keys append. Executed as a
    * staged rewrite + atomic swap — readers never see a half-merged
    * state. Extension beyond the reference (pydala's delta only ever
    * appends; replacing a changed row needs this). */
  case object Upsert extends WriteMode
}

/** Dataset writer (reference `dataset/writer.py`) re-expressed as ONE
  * declarative `df.write` action per call: partition fan-out is
  * `partitionBy` (each write task writes one file into every partition
  * directory it holds rows for — not the reference's driver-side
  * per-partition loop), count batching is `maxRecordsPerFile` (the
  * honest Spark equivalent of LIMIT/OFFSET slices, which would be
  * quadratic — SURVEY §7.3), time batching is a derived bucket column
  * partitioned on, and delta mode is a left-anti join against the
  * existing data, optionally pre-filtered to the incoming batch's
  * timestamp window so the existing-side scan prunes to the overlapping
  * files only — at 100 TB that window filter is the difference between
  * scanning the whole lake and a few partitions.
  *
  * Files per partition directory therefore follow the number of write
  * tasks. A write that states no distribution of its own is narrowed to
  * one task per `spark.sql.files.maxPartitionBytes` of estimated input
  * ([[DatasetWriter.rightSized]]): a small write lands one file per
  * partition directory with no shuffle, at the price of running its
  * last stage on fewer cores; a large one keeps every task it has. An
  * explicit `repartition` on the input, count batching and time batching
  * keep their own task counts (SCALE.md "Write fan-out").
  */
final case class DatasetWriter(
    target: GraftDataset,
    mode: WriteMode = WriteMode.Append,
    batchRows: Option[Long] = None,
    timeBatch: Option[(String, String)] = None, // (datetimeColumn, interval e.g. "1d")
    deltaSubset: Seq[String] = Nil,
    deltaDatetimeColumn: Option[String] = None,
    rowGroupSize: Option[Long] = None,
    // write-time clustering: sort rows WITHIN each write task by these
    // columns so parquet row-group min/max stats become selective for
    // range predicates on them — data skipping without the global
    // range-exchange a full orderBy would cost (reference sorts whole
    // tables at write, `dataset/base.py:77-89`; within-partition order
    // is the scale-honest version: the stats payoff is identical, and
    // at 100 TB a global sort is a full extra shuffle)
    clusterBy: Seq[String] = Nil,
    // opt-in bloom key index ([[BloomIndex]] sidecar over deltaSubset):
    // created on the first/overwrite write; once the sidecar exists,
    // EVERY graft write keeps it a superset of live keys regardless of
    // this flag (a stale filter would silently break delta idempotency)
    bloomIndex: Boolean = false,
    // parquet ROW-GROUP bloom filters on these columns (each is
    // (name, expected-NDV; None = parquet's adaptive sizing, each row
    // group's filter the smallest power of two holding its distinct
    // keys at 1% FPP — see [[RowGroupBloom.applyOptions]]): the
    // skipping layer BELOW the file-stats index, for point lookups on
    // high-cardinality UNCLUSTERED keys where min/max ranges span the
    // whole domain and neither the sidecar nor footer stats can
    // discriminate. Spark's parquet reader consumes them automatically
    // for pushed = / IN predicates — nothing to configure at read
    // time. Contracted columns are written PLAIN (dictionary encoding
    // disabled per column): parquet-mr drops the bloom whenever a
    // chunk stays fully dictionary-encoded, and that depends on the
    // dictionary PAGE-SIZE threshold, not the data — the same unique
    // key keeps its filters at one scale and silently loses them one
    // scale down. Declaring the column here IS the statement that it
    // is a high-cardinality lookup key (dictionary was ineffective
    // anyway), so the contract always materializes. Parquet-only
    // (other formats ignore the options)
    rowGroupBloom: Seq[(String, Option[Long])] = Nil,
    // explicit contract OPT-OUT — see [[withoutRowGroupBloom]]
    rowGroupBloomOff: Boolean = false,
    transform: DataFrame => DataFrame = identity) {

  def withMode(m: WriteMode): DatasetWriter = copy(mode = m)
  def withBatchRows(n: Long): DatasetWriter = copy(batchRows = Some(n))
  def withTimeBatch(tsCol: String, interval: String): DatasetWriter =
    copy(timeBatch = Some((tsCol, interval)))
  def withDeltaSubset(cols: String*): DatasetWriter = copy(deltaSubset = cols)
  def withDeltaWindow(tsCol: String): DatasetWriter = copy(deltaDatetimeColumn = Some(tsCol))
  def withTransform(f: DataFrame => DataFrame): DatasetWriter = copy(transform = f)
  def withClusterBy(cols: String*): DatasetWriter = copy(clusterBy = cols)
  def withBloomIndex: DatasetWriter = copy(bloomIndex = true)
  def withRowGroupBloom(cols: String*): DatasetWriter =
    copy(rowGroupBloom = cols.map(_ -> None))
  def withRowGroupBloomNdv(cols: (String, Long)*): DatasetWriter =
    copy(rowGroupBloom = cols.map { case (c, n) => c -> Some(n) })
  /** END the persisted bloom contract: this write (and all later ones)
    * runs without the parquet bloom options and deletes the
    * `_rowgroup_bloom` sidecar. Without this there would be no API
    * path out of a contract — an empty `rowGroupBloom` means "inherit",
    * so the persisted columns would re-apply forever. */
  def withoutRowGroupBloom: DatasetWriter = copy(rowGroupBloomOff = true)

  /** Writer-level clusterBy wins; otherwise the dataset's recorded
    * clustering contract applies — so upsert merges and other internal
    * rewrites preserve the layout without every caller re-stating it. */
  private def effectiveClusterBy: Seq[String] =
    if (clusterBy.nonEmpty) clusterBy else target.clusterBy

  /** Default batch size: `min(rows, 64MiB / ncols)` rows — reference
    * `writer.py:455-458`. Consulted when batching was requested without
    * a size ([[withAutoBatchRows]] → sentinel 0). */
  def defaultBatchRows(df: DataFrame): Long =
    math.max(1L, (64L * 1024 * 1024) / math.max(1, df.columns.length))

  /** Request count batching at the reference's default size (resolved
    * from the dataframe's width at write time). */
  def withAutoBatchRows: DatasetWriter = copy(batchRows = Some(0L))

  /** Execute the write. Returns the number of rows written. Serialized
    * against every other mutating operation on the same dataset via
    * [[DatasetLock]] — concurrent writers queue instead of interleaving
    * staged renames (which silently drops one writer's rows). */
  def write(spark: SparkSession, input: DataFrame): Long =
    DatasetLock.withLock(target.fs(spark), new Path(target.path))(writeUnlocked(spark, input))

  /** Explicit writer bloom columns win; otherwise the dataset's
    * persisted [[RowGroupBloom]] contract applies (parquet-only).
    * [[withoutRowGroupBloom]] overrides both. */
  private[ds] def effectiveRowGroupBloom(fs: FileSystem): Seq[(String, Option[Long])] =
    if (rowGroupBloomOff) Nil
    else if (rowGroupBloom.nonEmpty) rowGroupBloom
    else if (target.format == "parquet") RowGroupBloom.load(fs, target.path)
    else Nil

  /** [[write]] without taking the lock — for the staged writes of
    * operators that already hold the lock of the dataset they rewrite
    * (locking the staging dir would only add RPCs). */
  private[ds] def writeUnlocked(spark: SparkSession, input: DataFrame): Long = {
    val fs = target.fs(spark)
    val targetPath = new Path(target.path)
    // one listing serves the existence check and the existing side's schema
    val live = if (fs.exists(targetPath)) target.listed(spark) else Nil
    val existed = live.nonEmpty

    val prepared = transform(target.pipeline(input))

    // validate BEFORE any write: a key-less upsert must fail on the
    // first (empty-target) run, not succeed once and break on the next
    if (mode == WriteMode.Upsert)
      require(deltaSubset.nonEmpty, "upsert needs key columns — set withDeltaSubset(...)")
    if (bloomIndex)
      require(deltaSubset.nonEmpty, "bloom index needs key columns — set withDeltaSubset(...)")

    // ONE sidecar read per write — deltaDiff's probe and the key merge
    // each used to load it independently, and at SCALE.md's sizing
    // (1B keys ≈ 1.1 GB filter) that doubled the driver-side sidecar
    // IO on the hot ingest path
    val sideIdx: Option[BloomIndex.Index] =
      if (existed && mode != WriteMode.Overwrite && mode != WriteMode.Raise)
        BloomIndex.load(fs, target.path)
      else None

    if (mode == WriteMode.Upsert && existed) {
      // the writer-generated time bucket reads back as a hive partition
      // column, but it is DERIVED (recomputed from the ts column when
      // the merged result re-stages through the same timeBatch writer)
      // — it is not part of the logical schema the batch must match
      val existing = {
        val raw = target.raw(spark, live)
        if (timeBatch.isDefined) raw.drop("__time_bucket") else raw
      }
      // column agreement is mandatory: the merge rewrites the WHOLE
      // dataset, so a narrower incoming batch would silently destroy
      // the missing columns for every row, not just upserted ones
      require(existing.columns.toSet == prepared.columns.toSet,
        s"upsert batch columns ${prepared.columns.sorted.mkString(",")} must match " +
          s"dataset columns ${existing.columns.sorted.mkString(",")}")
      // ...and so must TYPES: the merge funnels every existing row
      // through unionByName, so a same-named column at a wider type
      // (int batch vs long dataset, or vice versa) would silently
      // rewrite the stored type for ALL rows, not just upserted ones.
      // Compared via catalogString — nullability flags (top-level and
      // nested containsNull/valueContainsNull) are NOT type changes.
      // Partition columns are exempt: their read-back type comes from
      // directory-name inference (p=10 written from a string reads back
      // as int), and they re-encode through the same path either way.
      val existingTypes = existing.schema
        .filterNot(f => target.partitioning.contains(f.name))
        .map(f => f.name -> f.dataType).toMap
      val mismatched = prepared.schema
        .filter(f => existingTypes.get(f.name)
          .exists(_.catalogString != f.dataType.catalogString))
        .map(f => s"${f.name}: batch ${f.dataType.simpleString} vs " +
          s"dataset ${existingTypes(f.name).simpleString}")
      require(mismatched.isEmpty,
        s"upsert batch column types must match the dataset (the merge " +
          s"rewrite would coerce every stored row): ${mismatched.mkString("; ")}")
      // persist: the incoming plan feeds both the key snapshot and the
      // union — re-executing a non-deterministic input between the two
      // could delete a key's old row without writing its replacement
      val pinned = prepared.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val scoped = target.partitioning.nonEmpty && timeBatch.isEmpty
      // ...and ONE narrow projection of it feeds every bookkeeping read:
      // both key-join builds, the incoming partition values and the
      // sidecar merge. The full-width batch is then read only by the
      // job that materializes it and by the staged write's union.
      val keyCols = (deltaSubset ++ (if (scoped) target.partitioning else Nil) ++
        sideIdx.toSeq.flatMap(_.cols).filter(pinned.columns.contains)).distinct
      val batchKeys = pinned.select(keyCols.map(col): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // no distinct: semi and anti joins ignore duplicates on their
        // build side, so an aggregate here would change no answer
        val keys = batchKeys.select(deltaSubset.map(col): _*)
        // null-safe: a NULL key replaces a NULL key (same rule as delta)
        val cond = deltaSubset.map(c => existing(c) <=> keys(c)).reduce(_ && _)
        val (merged, scope) =
          if (scoped) upsertPartitionScoped(spark, fs, targetPath, existing, pinned, batchKeys,
            keys, cond)
          else (existing.join(keys, cond, "left_anti")
            .select(pinned.columns.toIndexedSeq.map(col): _*).unionByName(pinned), Commit.Root)
        // the staged writer keeps this writer's layout (batching,
        // clustering, row groups, bloom contract) and drops its delta
        // keys, sidecar build and transform. The key-merged sidecar is
        // persisted before promotion: a later merge would leave a crash
        // window where rows were live but their keys were not, and the
        // next delta re-appended them
        val layoutOnly = copy(target = target.layout, deltaSubset = Nil,
          deltaDatetimeColumn = None, bloomIndex = false, transform = identity)
        val (n, _) = Commit.rewrite(spark, layoutOnly, merged, scope,
          sideIdx.map(BloomIndex.merged(_, batchKeys)))
        if (sideIdx.isEmpty && bloomIndex) BloomIndex.build(spark, target, deltaSubset)
        return n
      } finally {
        // dependent cache first: uncaching `pinned` while `batchKeys`
        // still refers to it would make Spark recompile that plan
        batchKeys.unpersist()
        pinned.unpersist()
      }
    }

    // effective row-group-bloom columns: explicit writer columns win,
    // else the dataset's persisted contract re-applies — so rewrites
    // ([[Commit.rewrite]]) and plain appends keep the filter layer the
    // original writes paid for (see [[RowGroupBloom]]). Parquet-only.
    val rgbContract = effectiveRowGroupBloom(fs)

    val toWrite = mode match {
      case WriteMode.Raise =>
        if (existed) throw new IllegalStateException(
          s"target ${target.path} already exists (mode=raise)")
        // the raise semantics live in the guard ABOVE (which defines
        // "exists" as data files present); Spark's ErrorIfExists throws
        // on the mere DIRECTORY — a dataset root holding only sidecars
        // or an emptied layout would fail a write this layer just
        // allowed. Append under the guard keeps the two layers agreeing.
        prepared
      case WriteMode.Delta if existed => deltaDiff(spark, prepared, sideIdx, live)
      case _ => prepared // Upsert here is a first write: a plain append
    }
    val saveMode = if (mode == WriteMode.Overwrite) SaveMode.Overwrite else SaveMode.Append
    val overwrote = saveMode == SaveMode.Overwrite || !existed
    // the sidecar this write merges its keys into: fresh and overwritten
    // datasets build theirs after the write instead
    val mergeIdx = if (overwrote) None else sideIdx

    val partCols = target.partitioning ++ (if (timeBatch.isDefined) Seq("__time_bucket") else Nil)
    // sentinel 0 (withAutoBatchRows) → the reference's width-derived default
    val resolvedBatchRows = batchRows.map(n => if (n <= 0) defaultBatchRows(prepared) else n)
    // Count batching on an unpartitioned target sizes its tasks from the
    // row count BEFORE the write (see `batched` below)
    val countBatched = resolvedBatchRows.isDefined && partCols.isEmpty

    // A write that merges keys into the sidecar or runs a delta needs
    // its row count (the delta emptiness gate, reference writer.py:492)
    // and the keys of the rows it wrote. The count rides the write job
    // as an `observe` metric, so the input is evaluated once; the write
    // lands in staging, and after the job the keys are read back from
    // the staged files alone (a key-column scan), merged into the
    // sidecar, and only then are the files promoted. Merge first: the
    // superset contract tolerates keys whose rows never land (false
    // positives: an anti-join probe each) but not the reverse (a live
    // key missing from the filter makes the next delta re-append it).
    // Crash states: [[Commit.appendStaged]]. The one exception to the
    // single evaluation is a count-batched delta on an unpartitioned
    // target: it pins its diff, so the count that sizes the write's
    // tasks does not run the anti-join a second time.
    val bookkept = !overwrote && (mode == WriteMode.Delta || mergeIdx.isDefined)
    val pinned = bookkept && countBatched && mode == WriteMode.Delta
    val src = if (pinned) toWrite.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else toWrite
    try {

    val withBucket = timeBatch match {
      case Some((tsCol, interval)) =>
        // Tumbling [start, start+interval) buckets, reference W8
        // (`writer.py:292-385`); the bucket both batches the write and
        // lands as a hive partition column → later scans prune on it.
        src.withColumn("__time_bucket", bucketExpr(tsCol, interval))
      case None => src
    }

    // Count batching (W7): for an unpartitioned target, repartition to
    // exactly ceil(rows/batch) tasks — every executor writes one bounded
    // file in parallel and the file count is deterministic (the
    // reference's LIMIT/OFFSET loop is single-threaded AND quadratic).
    // Costs one count job; partitioned targets skip it and rely on
    // maxRecordsPerFile below to bound files per task.
    val batched = resolvedBatchRows match {
      case Some(n) if partCols.isEmpty =>
        // parquet footers already know the count when the plan is a
        // pure scan/project — skip the count job (a full extra pass of
        // the input) and only fall back to counting for transformed
        // plans whose multiplicity the footers cannot answer
        val rows = graft.sources.ParquetMeta.metadataRowCount(withBucket)
          .getOrElse(withBucket.count())
        withBucket.repartition(math.max(1L, (rows + n - 1) / n).toInt)
      case Some(_) =>
        // Partitioned + batched: hash-distribute by the partition
        // columns plus a deterministic data-derived salt before the
        // write (the Iceberg hash-distribution shape, guide §6). A
        // narrow input otherwise funnels every partition's whole file
        // fan-out through its few tasks — measured 3.1 s single-task
        // for w13's 153-file fixture vs ~0.6 s distributed — while the
        // salt keeps one giant hive partition from serializing into a
        // single task (guide §2.5; xxhash64 of the data columns, never
        // rand(), so task retries reproduce the assignment).
        val dataCols = withBucket.columns.filterNot(partCols.contains)
        val salt =
          if (dataCols.isEmpty) lit(0L)
          else pmod(xxhash64(struct(dataCols.toIndexedSeq.map(col): _*)),
            lit(spark.sparkContext.defaultParallelism.toLong.max(1L)))
        withBucket.repartition((partCols.map(col) :+ salt): _*)
      case None if timeBatch.isDefined => withBucket
      case None => DatasetWriter.rightSized(withBucket, prepared)
    }

    // Clustered write: per-task sort by (partition cols, cluster key).
    // Leading with the partition cols matters twice over — it matches
    // the sort FileFormatWriter needs for dynamic-partition writes (so
    // Spark reuses this sort instead of adding its own, cluster key
    // discarded), and it makes the cluster-key runs contiguous per
    // OUTPUT file. No exchange is introduced: sortWithinPartitions is
    // task-local (ROUND-ROBIN-free, spill-backed), the one property
    // that keeps clustering affordable at 100 TB.
    val clustered =
      if (effectiveClusterBy.isEmpty) batched
      else batched.sortWithinPartitions((partCols ++ effectiveClusterBy).map(col): _*)

    // Row count captured via Observation during the single write job —
    // no caching of the (potentially huge) output.
    val obs = org.apache.spark.sql.Observation()
    val outDir = if (bookkept) Commit.staging(fs, targetPath).toString else target.path
    val codec = DatasetWriter.resolveCodec(target.format, target.compression)
    var w = clustered.observe(obs, count(lit(1)).as("rows")).write
      .mode(saveMode)
      .option("compression", codec)
    resolvedBatchRows.foreach(n => w = w.option("maxRecordsPerFile", n.toString))
    rowGroupSize.foreach(n => w = w.option("parquet.block.size", (n * 128).toString))
    w = RowGroupBloom.applyOptions(w, rgbContract)
    if (partCols.nonEmpty) w = w.partitionBy(partCols: _*)
    target.format match {
      case "parquet" => w.parquet(outDir)
      case "csv" => w.option("header", "true").csv(outDir)
      case other => w.format(other).save(outDir)
    }
    val written = obs.get("rows").asInstanceOf[Long]
    val mergedIdx =
      if (!bookkept) None
      else if (written == 0L) {
        // the emptiness gate: nothing promoted, sidecar byte-identical
        fs.delete(new Path(outDir), true)
        return 0L
      } else {
        // the staged files, read at the written schema: partition
        // values parse back at their written types, so the keys hash
        // as the batch's did. One read task per 128 MiB of staged
        // files: each task ships one partial filter to the merge, so a
        // small batch folds its keys in one task with no shuffle and a
        // large one still reads in parallel.
        val stagedDir = new Path(outDir)
        val readTasks = (fs.getContentSummary(stagedDir).getLength >> 27) + 1
        val stagedRows = GraftDataset(outDir, format = target.format,
          schema = Some(clustered.schema)).raw(spark).coalesce(readTasks.toInt)
        val m = mergeIdx.map(BloomIndex.merged(_, stagedRows))
        m.foreach(BloomIndex.write(fs, target.path, _))
        Commit.appendStaged(fs, stagedDir, targetPath, partCols.length)
        m
      }
    // persist the bloom contract beside the data it describes (fresh
    // dirs — staged rewrites included — get it here, so a staged swap
    // promotes contract and files together); an explicit opt-out
    // deletes it — the one API path OUT of a contract
    if (rowGroupBloomOff && target.format == "parquet")
      RowGroupBloom.delete(fs, target.path)
    else if (rgbContract.nonEmpty && target.format == "parquet")
      RowGroupBloom.write(fs, target.path, rgbContract)
    // fresh/overwritten datasets get their sidecar AFTER the write (a
    // build scans the data that just landed); merges already happened
    // pre-commit above. An existing sidecar is always maintained (its
    // own recorded columns); a fresh one only when requested.
    if ((overwrote || sideIdx.isEmpty) && bloomIndex)
      BloomIndex.build(spark, target, deltaSubset)
    // stats sidecar stays fresh across ingest: O(new files) footer IO,
    // no-op unless one was built (an overwrite deleted it with the dir)
    StatsIndex.maintain(spark, target)
    // occupancy check AFTER the data commit: the rebuild scans live
    // rows, and the pre-commit merge above already persisted the
    // superset either way (crash between commit and rebuild leaves a
    // degraded-but-correct filter, healed at the next maintained write)
    mergedIdx.foreach(m => BloomIndex.rebuildIfOverBudget(spark, target, m))
    written
    } finally {
      if (pinned) src.unpersist()
    }
  }

  /** Partition-scoped upsert for hive-partitioned targets: rewrite ONLY
    * the partitions the merge can touch, not the whole dataset. At
    * 100 TB a full staged rewrite per upsert is O(dataset); this path is
    * O(affected partitions) data. Returns the merged rows of those
    * partitions and the [[Commit.Partitions]] scope they replace.
    *
    * Affected set = partitions present in the incoming batch ∪ partitions
    * a matched key moves out of. A key moves when its batch row names
    * another partition than its live row, so the old partition needs no
    * search when it is in the batch anyway. The moved-keys job therefore
    * runs only when a key can live OUTSIDE the batch's partitions, and
    * then only over those partitions (a semi-join whose scan carries the
    * batch's partitions, negated, as PartitionFilters). It is skipped
    * when every partition column is a key column (a matched row sits in
    * its incoming partition) and when no live partition lies outside the
    * batch: a batch that covers the dataset, or is keyed on its
    * partition, scans nothing but the kept rows. The live partitions and
    * their directories come from the file index ([[LivePartitions]]), on
    * the driver, with the same coercion the scans apply (a batch's "10"
    * selects the `p=10` that reads back as int).
    *
    * The `kept` scan prunes to the affected set via an OR-of-equalities
    * partition predicate (PartitionFilters at the scan); the staged write
    * contains exactly the affected partitions, and promotion swaps
    * exactly those partition DIRECTORIES — every other partition's files
    * are never read fully, written, or renamed.
    *
    * Staging, sidecar merge, promotion and their crash states are
    * [[Commit.rewrite]]'s: atomic per partition directory (same as
    * Spark's dynamic partition overwrite). Moved-from partitions that
    * stage nothing lost their LAST row to another partition and hold
    * only rows being moved; they are deleted before any promotion, so a
    * moved key never lives in its old and new partition at once — a
    * wrong-answer state no re-run or vacuum could detect. */
  private def upsertPartitionScoped(
      spark: SparkSession, fs: FileSystem, targetPath: Path,
      existing: DataFrame, pinned: DataFrame, batchKeys: DataFrame,
      keys: DataFrame, cond: org.apache.spark.sql.Column): (DataFrame, Commit.Scope) = {
    val partCols = target.partitioning
    val incomingVals = batchKeys.select(partCols.map(col): _*).distinct().collect().toSeq
    val outsideBatch = !LivePartitions.matching(partCols, incomingVals)
    val live = LivePartitions.of(spark, fs, targetPath, existing, partCols)
    val movedVals =
      if (partCols.forall(deltaSubset.contains) || live.filter(outsideBatch).isEmpty) Nil
      else existing.filter(outsideBatch).join(keys, cond, "left_semi")
        .select(partCols.map(col): _*).distinct().collect().toSeq
    // the leaf dirs keys moved out of: promotion deletes those that
    // staged nothing (their every row moved away)
    val movedDirs =
      if (movedVals.isEmpty) Set.empty[String]
      else LivePartitions.dirs(live.filter(LivePartitions.matching(partCols, movedVals)))
    val keptPred = LivePartitions.matching(partCols, incomingVals ++ movedVals)
    val kept = existing.filter(keptPred).join(keys, cond, "left_anti")
      .select(pinned.columns.toIndexedSeq.map(col): _*)
    (kept.unionByName(pinned), Commit.Partitions(movedDirs))
  }

  /** Tumbling-window bucket label for `interval` starting at the epoch.
    * Fixed-length intervals bucket on floored epoch-micros; calendar
    * intervals (months/years) bucket on floored epoch-month index —
    * mirroring the reference's generate_series fenceposts
    * (`writer.py:343-352`: windows are [sd, ed)). */
  private def bucketExpr(tsCol: String, interval: String) = {
    val iv = IntervalParse.parse(interval)
    if (iv.isCalendar) {
      val em = (year(col(tsCol)) * 12 + month(col(tsCol)) - 1)
      val startIdx = floor(em / iv.months) * iv.months
      date_format(
        make_date((startIdx / 12).cast("int"), (startIdx % 12 + 1).cast("int"), lit(1)),
        "yyyyMMdd")
    } else {
      val m = iv.micros
      date_format(
        timestamp_micros(floor(unix_micros(col(tsCol)) / m).cast("long") * m),
        "yyyyMMdd_HHmmss")
    }
  }

  /** Delta diff (reference W6, `utils/table.py:135-210` +
    * `writer.py:196-240`): keep only incoming rows absent from the
    * existing dataset. With a `deltaSubset` the comparison is on those
    * key columns (left-anti join); without, it's full-row set-except.
    * `deltaDatetimeColumn` bounds BOTH sides to the incoming batch's
    * [min(ts), max(ts)] window first.
    *
    * The existing side of the keyed anti-join is a bare key projection
    * of the scan, with no distinct: a left-anti join's answer does not
    * depend on duplicates on its build side, so an aggregate there
    * would only add an exchange. The planner picks the join strategy:
    * a broadcast of the key column while it is small, a sort-merge join
    * (one shuffle of the same key volume the aggregate used to shuffle)
    * past that. Overlap therefore costs one existing-key scan and no
    * existing-side aggregate. */
  private def deltaDiff(spark: SparkSession, incoming: DataFrame,
      sideIdx: Option[BloomIndex.Index], live: Seq[(String, Long)]): DataFrame = {
    val (inc, existing) = deltaDatetimeColumn match {
      case Some(ts) =>
        val Array(lo, hi) = incoming.agg(min(col(ts)), max(col(ts))).collect()(0) match {
          case r => Array(r.get(0), r.get(1))
        }
        if (lo == null) (incoming, target.raw(spark, live))
        else {
          val win = col(ts).between(lit(lo), lit(hi))
          // stats-index file pruning composes with the window: the
          // existing-side LISTING shrinks to the files whose recorded
          // ts range overlaps the batch (row-group pushdown then works
          // inside those) — with clustered ingest the common case scans
          // a handful of recent files, not a 100 TB listing. Superset-
          // safe: no sidecar / no overlap info → unchanged dataset.
          (incoming, target.pruned(spark, win).raw(spark, live).filter(win))
        }
      case None => (incoming, target.raw(spark, live))
    }
    if (deltaSubset.nonEmpty) {
      // Bloom fast path: with a sidecar over these key columns, rows
      // whose key is DEFINITELY absent skip the existing-side scan and
      // anti-join shuffle entirely (map-side codegen'd probe). The
      // common ingest shape — an all-new batch — then costs O(batch)
      // with ZERO reads of the (100 TB) existing dataset; only possible
      // duplicates (matches + fpp false positives) pay the exact join.
      // The index arrives pre-loaded from writeUnlocked (one sidecar read
      // per write); only one recorded over exactly these keys probes.
      sideIdx.filter(_.cols == deltaSubset) match {
        case Some(idx) =>
          val might = BloomIndex.mightContain(idx)
          val candidates = inc.filter(might)
          if (candidates.isEmpty) inc // one LIMIT-1 pass over the batch
          else {
            val ex = existing.select(deltaSubset.map(col): _*)
            val cond = deltaSubset.map(c => candidates(c) <=> ex(c)).reduce(_ && _)
            candidates.join(ex, cond, "left_anti").unionByName(inc.filter(!might))
          }
        case None =>
          // null-safe key comparison: a NULL key must match a NULL key,
          // or the row re-appends on every delta write (idempotency)
          val ex = existing.select(deltaSubset.map(col): _*)
          val cond = deltaSubset.map(c => inc(c) <=> ex(c)).reduce(_ && _)
          inc.join(ex, cond, "left_anti")
      }
    } else {
      // set EXCEPT (the reference's duckdb EXCEPT): null-safe row
      // equality, incoming duplicates collapse via the set semantics
      inc.distinct().except(existing.select(inc.columns.toIndexedSeq.map(col): _*))
    }
  }
}

object DatasetWriter {
  /** zstd needs native codec support for TEXT formats in vanilla
    * Hadoop → csv/json fall back to gzip; parquet and orc compress
    * zstd internally and keep it. One rule, used by every writer. */
  private def resolveCodec(format: String, compression: String): String =
    if ((format == "csv" || format == "json") && compression == "zstd") "gzip"
    else compression

  /** Write fan-out: `rows` narrowed by a `coalesce` to one task per
    * `spark.sql.files.maxPartitionBytes` of the optimizer's size estimate,
    * so each task writes one file per partition directory it fills and
    * reading a file back plans one split for it. A coalesce is narrow: it
    * adds no Exchange, and when `rows` already has at most that many
    * partitions it changes nothing. `rows` is returned as it is when
    * `input` states its own distribution (its root, through projections,
    * is a repartition, coalesce, rebalance or sort: merging sorted
    * partitions would interleave their runs in one file) or when its
    * size is unknown: Spark's `Long.MaxValue` default, or a plan holding
    * an operator the estimate prices at its input's size although it can
    * multiply rows (explode, mapPartitions). A write whose estimate is k
    * splits keeps at least k tasks. */
  private[ds] def rightSized(rows: DataFrame, input: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    @scala.annotation.tailrec
    def stated(p: LogicalPlan): Boolean = p match {
      case _: RepartitionOperation | _: RebalancePartitions | _: Sort => true
      case Project(_, child) => stated(child)
      case _ => false
    }
    if (stated(input.queryExecution.analyzed)) return rows
    val plan = rows.queryExecution.optimizedPlan
    val size = plan.stats.sizeInBytes
    if (size >= Long.MaxValue ||
        plan.exists(p => p.isInstanceOf[Generate] || p.isInstanceOf[MapPartitions])) return rows
    val split = BigInt(rows.sparkSession.sessionState.conf.filesMaxPartitionBytes.max(1L))
    rows.coalesce(((size + split - 1) / split).max(1).min(Int.MaxValue).toInt)
  }

  /** Schema-unify rewrite (reference W10, `writer.py:529-571`): rewrite
    * files whose physical schema differs from the promoted unified
    * schema. Rewrites whole schema-groups in one distributed pass each,
    * not file-by-file. */
  def unifySchemaRewrite(spark: SparkSession, ds: GraftDataset, sortCols: Boolean = false): Boolean =
    DatasetLock.withLock(ds.fs(spark), new Path(ds.path)) {
      unifySchemaRewriteLocked(spark, ds, sortCols)
    }

  private def unifySchemaRewriteLocked(
      spark: SparkSession, ds: GraftDataset, sortCols: Boolean): Boolean = {
    val listing = ds.listed(spark)
    if (listing.isEmpty) return false
    // the read path's footer-schema groups (executor-parallel above 64
    // uncached files) — one driver-side DataFrameReader per file here
    // would serialize 100k footer jobs through the driver
    val bySchema = GraftDataset.schemaGroups(spark, listing)
    val (unified0, equal) = SchemaUnify.unifyAll(bySchema.map(_._1))
    if (equal) return false
    val unified = if (sortCols) SchemaUnify.sorted(unified0) else unified0
    val fs = ds.fs(spark)
    // a unify rewrite is maintenance too: rewritten groups must keep
    // the dataset's persisted row-group bloom layer
    val rgb = RowGroupBloom.load(fs, ds.path)
    // group by (schema, parent dir): partition values live ONLY in the
    // directory names, so rewritten files must land back in the same
    // directory they came from or a hive layout loses its partitions
    bySchema.filter(_._1 != unified)
      .flatMap { case (s, fls) =>
        fls.groupBy(f => new Path(f).getParent).toSeq.map { case (p, g) => (s, p, g) } }
      .foreach { case (s, parent, paths) =>
        val df = spark.read.schema(s).parquet(paths: _*)
        val aligned = df.select(unified.fields.toSeq.map { f =>
          if (s.fieldNames.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*)
        val tmp = Commit.staging(fs, new Path(ds.path))
        RowGroupBloom.applyOptions(
          rightSized(aligned, aligned).write.option("compression", ds.compression), rgb)
          .parquet(tmp.toString)
        // swap order matters: promote the rewritten files FIRST, then
        // delete originals — a crash between the two duplicates rows
        // (recoverable) instead of losing the group (not recoverable).
        // appendStaged throws on a refused rename, before any original
        // is deleted.
        Commit.appendStaged(fs, tmp, parent, 0)
        paths.foreach(p => fs.delete(new Path(p), false))
      }
    true
  }
}
