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
  * `partitionBy` (executors write all partitions in parallel — not the
  * reference's driver-side per-partition loop), count batching is
  * `maxRecordsPerFile` (the honest Spark equivalent of LIMIT/OFFSET
  * slices, which would be quadratic — SURVEY §7.3), time batching is a
  * derived bucket column partitioned on, and delta mode is a left-anti
  * join against the existing data, optionally pre-filtered to the
  * incoming batch's timestamp window so the existing-side scan prunes to
  * the overlapping files only — at 100 TB that window filter is the
  * difference between scanning the whole lake and a few partitions.
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
  private def effectiveRowGroupBloom(fs: FileSystem): Seq[(String, Option[Long])] =
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
    val existed = fs.exists(targetPath) && target.dataFiles(spark).nonEmpty

    // effective row-group-bloom columns: explicit writer columns win,
    // else the dataset's persisted contract re-applies — so maintenance
    // rewrites and plain appends keep the filter layer the original
    // writes paid for (see [[RowGroupBloom]]). Parquet-only.
    val rgbContract = effectiveRowGroupBloom(fs)

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
        val raw = target.raw(spark)
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
      try {
        val keys = pinned.select(deltaSubset.map(col): _*).distinct()
        // null-safe: a NULL key replaces a NULL key (same rule as delta)
        val cond = deltaSubset.map(c => existing(c) <=> keys(c)).reduce(_ && _)
        if (target.partitioning.nonEmpty && timeBatch.isEmpty)
          return upsertPartitionScoped(spark, fs, targetPath, existing, pinned, keys, cond,
            sideIdx, rgbContract)
        val kept = existing.join(keys, cond, "left_anti")
          .select(pinned.columns.toIndexedSeq.map(col): _*)
        val merged = kept.unionByName(pinned)
        // stage the merged dataset, then swap — `merged` scans the live
        // target lazily, so the target must not be touched until the
        // staged write has fully materialized
        val tmp = Commit.staging(fs, targetPath)
        val staged = GraftDataset(tmp.toString, format = target.format,
          partitioning = target.partitioning, compression = target.compression)
        val n = DatasetWriter(staged, WriteMode.Overwrite, batchRows = batchRows,
          timeBatch = timeBatch, rowGroupSize = rowGroupSize,
          clusterBy = effectiveClusterBy, rowGroupBloom = rgbContract)
          .writeUnlocked(spark, merged)
        // the key-merged sidecar promotes with its data: a post-swap
        // merge would leave a crash window where rows were live but
        // their keys were not, and the next delta re-appended them
        val mergedIdx = sideIdx.map(idx => BloomIndex.merged(idx, alignKeys(pinned, idx)))
        Commit.swapRoot(spark, target, tmp, mergedIdx)
        if (sideIdx.isEmpty && bloomIndex) BloomIndex.build(spark, target, deltaSubset)
        mergedIdx.foreach(m => BloomIndex.rebuildIfOverBudget(spark, target, m))
        return n
      } finally pinned.unpersist()
    }

    val (toWrite, saveMode) = mode match {
      case WriteMode.Raise =>
        if (existed) throw new IllegalStateException(
          s"target ${target.path} already exists (mode=raise)")
        // the raise semantics live in the guard ABOVE (which defines
        // "exists" as data files present); Spark's ErrorIfExists throws
        // on the mere DIRECTORY — a dataset root holding only sidecars
        // or an emptied layout would fail a write this layer just
        // allowed. Append under the guard keeps the two layers agreeing.
        (prepared, SaveMode.Append)
      case WriteMode.Overwrite => (prepared, SaveMode.Overwrite)
      case WriteMode.Append => (prepared, SaveMode.Append)
      case WriteMode.Upsert => (prepared, SaveMode.Append) // !existed → plain first write
      case WriteMode.Delta =>
        if (!existed) (prepared, SaveMode.Append)
        // persist the diff: the emptiness gate below and the write
        // itself both consume it — without this the existing-side scan
        // + anti-join (the dominant delta cost) would execute twice
        else (deltaDiff(spark, prepared, sideIdx)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), SaveMode.Append)
    }

    try {
      // Emptiness gate for delta (reference skips empty batches,
      // writer.py:492): isEmpty is a LIMIT-1 job over the cached diff.
      if (mode == WriteMode.Delta && toWrite.isEmpty) return 0L

    val withBucket = timeBatch match {
      case Some((tsCol, interval)) =>
        // Tumbling [start, start+interval) buckets, reference W8
        // (`writer.py:292-385`); the bucket both batches the write and
        // lands as a hive partition column → later scans prune on it.
        toWrite.withColumn("__time_bucket", bucketExpr(tsCol, interval))
      case None => toWrite
    }

    val partCols = target.partitioning ++ (if (timeBatch.isDefined) Seq("__time_bucket") else Nil)

    // Count batching (W7): for an unpartitioned target, repartition to
    // exactly ceil(rows/batch) tasks — every executor writes one bounded
    // file in parallel and the file count is deterministic (the
    // reference's LIMIT/OFFSET loop is single-threaded AND quadratic).
    // Costs one count job; partitioned targets skip it and rely on
    // maxRecordsPerFile below to bound files per task.
    // sentinel 0 (withAutoBatchRows) → the reference's width-derived default
    val resolvedBatchRows = batchRows.map(n => if (n <= 0) defaultBatchRows(prepared) else n)
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
      case None => withBucket
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

    // Sidecar key merge happens BEFORE the data commits: the superset
    // contract tolerates keys whose rows never land (a failed write
    // leaves false positives — an anti-join probe each, never a wrong
    // answer) but not the reverse — a crash between a data commit and
    // a post-write merge would hide live keys from the next delta,
    // which silently re-appends them. Merge-first is the one crash-safe
    // order.
    val overwrote = saveMode == SaveMode.Overwrite || !existed
    val mergedIdx = if (overwrote) None else sideIdx.map { idx =>
      val m = BloomIndex.merged(idx, alignKeys(toWrite, idx))
      BloomIndex.write(fs, target.path, m)
      m
    }

    // Row count captured via Observation during the single write job —
    // no caching of the (potentially huge) output.
    val obs = org.apache.spark.sql.Observation()
    val codec = DatasetWriter.resolveCodec(target.format, target.compression)
    var w = clustered.observe(obs, count(lit(1)).as("rows")).write
      .mode(saveMode)
      .option("compression", codec)
    resolvedBatchRows.foreach(n => w = w.option("maxRecordsPerFile", n.toString))
    rowGroupSize.foreach(n => w = w.option("parquet.block.size", (n * 128).toString))
    w = RowGroupBloom.applyOptions(w, rgbContract)
    if (partCols.nonEmpty) w = w.partitionBy(partCols: _*)
    target.format match {
      case "parquet" => w.parquet(target.path)
      case "csv" => w.option("header", "true").csv(target.path)
      case other => w.format(other).save(target.path)
    }
    val written = obs.get("rows").asInstanceOf[Long]
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
      if (mode == WriteMode.Delta && existed) toWrite.unpersist()
    }
  }

  /** Align a batch to the sidecar's key columns before a merge: a
    * schema-divergent batch (the unify-rewrite flows exist precisely
    * for heterogeneous file schemas) may lack a key column — its rows
    * read back as NULL there, so their key hash is the null-tuple hash.
    * Adding the missing columns as nulls makes the merge absorb exactly
    * those hashes; failing resolution instead would (a) abort an append
    * whose rows may already be committed and (b) leave live keys out of
    * the filter — silent delta duplicates. */
  private def alignKeys(batch: DataFrame, idx: BloomIndex.Index): DataFrame =
    idx.cols.foldLeft(batch)((df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null).cast("string")))

  /** Partition-scoped upsert for hive-partitioned targets: rewrite ONLY
    * the partitions the merge can touch, not the whole dataset. At
    * 100 TB a full staged rewrite per upsert is O(dataset); this path is
    * O(affected partitions) data + ONE column-pruned key/partition scan
    * of the existing dataset (to find where matched keys currently
    * live — a key's partition value may change in the batch, which must
    * delete its old row from the old partition).
    *
    * Affected set = partitions present in the incoming batch ∪
    * partitions holding a matched key. The `kept` scan prunes to that
    * set via an OR-of-equalities partition predicate (visible as
    * PartitionFilters at the scan); the staged write contains exactly
    * the affected partitions, and promotion swaps exactly those
    * partition DIRECTORIES — every other partition's files are never
    * read fully, written, or renamed. Directory identity comes from
    * Spark's own staged layout and `input_file_name()` on matched rows,
    * so hive value-encoding is never re-implemented here.
    *
    * Promotion and its crash states are [[Commit.promotePartitions]]'s:
    * atomic per partition directory (same as Spark's dynamic partition
    * overwrite), with partitions emptied by the merge (every matched row
    * moved away) deleted before any promotion. */
  private def upsertPartitionScoped(
      spark: SparkSession, fs: FileSystem, targetPath: Path,
      existing: DataFrame, pinned: DataFrame,
      keys: DataFrame, cond: org.apache.spark.sql.Column,
      sideIdx: Option[BloomIndex.Index],
      rgb: Seq[(String, Option[Long])]): Long = {
    val partCols = target.partitioning
    val qualifiedRoot = fs.makeQualified(targetPath).toString
    def relDirOf(file: String): String = {
      val parent = fs.makeQualified(new Path(file)).getParent.toString
      require(parent.startsWith(qualifiedRoot + "/"),
        s"upsert: matched file $parent outside dataset root $qualifiedRoot")
      parent.stripPrefix(qualifiedRoot + "/")
    }

    // ONE pruned-column pass over existing: where do matched keys live
    // (both the partition VALUES for the kept-scan predicate and the
    // leaf DIRECTORIES for promotion/emptied-dir cleanup).
    // input_file_name() MUST be projected below the join: it reads the
    // task's current input file, which is only set in the scan stage —
    // above a shuffled (non-broadcast) join it evaluates to "" and the
    // upsert would crash exactly when the key set is too big to
    // broadcast. It is non-deterministic to Catalyst, so the optimizer
    // cannot float it above the join either.
    val exWithFile = existing.withColumn("__f", input_file_name())
    val matched = exWithFile.join(keys, cond, "left_semi")
      .select(partCols.map(col) :+ col("__f"): _*)
      .distinct().collect()
    require(matched.forall(r => r.getString(partCols.length).nonEmpty),
      "upsert: input_file_name() returned an empty path for a matched row")
    val matchedDirs = matched.map(r => relDirOf(r.getString(partCols.length))).toSet
    val matchedVals = matched.map(r => r.toSeq.dropRight(1)).distinct
    val incomingVals = pinned.select(partCols.map(col): _*).distinct()
      .collect().map(_.toSeq)
    val affectedVals = (matchedVals ++ incomingVals).distinct
    val keptPred = affectedVals
      .map(vs => partCols.zip(vs).map { case (c, v) => col(c) <=> lit(v) }.reduce(_ && _))
      .reduceOption(_ || _).getOrElse(lit(false))

    val kept = existing.filter(keptPred).join(keys, cond, "left_anti")
      .select(pinned.columns.toIndexedSeq.map(col): _*)
    val merged = kept.unionByName(pinned)

    val tmp = Commit.staging(fs, targetPath)
    val staged = GraftDataset(tmp.toString, format = target.format,
      partitioning = partCols, compression = target.compression)
    // the staged ROOT (and the contract file the staged write drops
    // there) is discarded after per-partition promotion — the contract
    // (threaded from writeUnlocked: ONE sidecar read per write)
    // persists on the live root below instead
    val n = DatasetWriter(staged, WriteMode.Overwrite, batchRows = batchRows,
      rowGroupSize = rowGroupSize, clusterBy = effectiveClusterBy,
      rowGroupBloom = rgb)
      .writeUnlocked(spark, merged)

    // Absorb the batch keys BEFORE any partition directory changes:
    // the superset contract tolerates extra keys (a crash before the
    // promotions below just leaves false positives) but a crash AFTER
    // a promotion with the old post-merge order hid freshly-live keys
    // from the next delta — silent duplicates. Partition swaps leave
    // the root sidecar in place, so merging here is durable.
    val mergedIdx = sideIdx.map { idx =>
      val m = BloomIndex.merged(idx, alignKeys(pinned, idx))
      BloomIndex.write(fs, target.path, m)
      m
    }

    // Matched partitions that staged nothing lost their LAST matched
    // row to another partition and got nothing back: they hold ONLY
    // rows being moved (unmatched rows would have staged them).
    // Deleting them before any promotion keeps a moved key from ever
    // living in its old and new partition at once — a wrong-answer
    // state no re-run or vacuum could detect.
    Commit.promotePartitions(fs, tmp, targetPath, partCols.length, matchedDirs)
    if (rowGroupBloomOff && target.format == "parquet")
      RowGroupBloom.delete(fs, target.path)
    else if (rgb.nonEmpty && target.format == "parquet")
      RowGroupBloom.write(fs, target.path, rgb)
    if (sideIdx.isEmpty && bloomIndex) BloomIndex.build(spark, target, deltaSubset)
    StatsIndex.maintain(spark, target)
    mergedIdx.foreach(m => BloomIndex.rebuildIfOverBudget(spark, target, m))
    n
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
    * [min(ts), max(ts)] window first. */
  private def deltaDiff(spark: SparkSession, incoming: DataFrame,
      sideIdx: Option[BloomIndex.Index]): DataFrame = {
    val (inc, existing) = deltaDatetimeColumn match {
      case Some(ts) =>
        val Array(lo, hi) = incoming.agg(min(col(ts)), max(col(ts))).collect()(0) match {
          case r => Array(r.get(0), r.get(1))
        }
        if (lo == null) (incoming, target.raw(spark))
        else {
          val win = col(ts).between(lit(lo), lit(hi))
          // stats-index file pruning composes with the window: the
          // existing-side LISTING shrinks to the files whose recorded
          // ts range overlaps the batch (row-group pushdown then works
          // inside those) — with clustered ingest the common case scans
          // a handful of recent files, not a 100 TB listing. Superset-
          // safe: no sidecar / no overlap info → unchanged dataset.
          (incoming, target.pruned(spark, win).raw(spark).filter(win))
        }
      case None => (incoming, target.raw(spark))
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
          val might = BloomIndex.mightContain(spark, idx)
          val candidates = inc.filter(might)
          if (candidates.isEmpty) inc // one LIMIT-1 pass over the batch
          else {
            val ex = existing.select(deltaSubset.map(col): _*).distinct()
            val cond = deltaSubset.map(c => candidates(c) <=> ex(c)).reduce(_ && _)
            candidates.join(ex, cond, "left_anti").unionByName(inc.filter(!might))
          }
        case None =>
          // null-safe key comparison: a NULL key must match a NULL key,
          // or the row re-appends on every delta write (idempotency)
          val ex = existing.select(deltaSubset.map(col): _*).distinct()
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
  private[ds] def resolveCodec(format: String, compression: String): String =
    if ((format == "csv" || format == "json") && compression == "zstd") "gzip"
    else compression

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
    val files = ds.dataFiles(spark)
    if (files.isEmpty) return false
    // distributed direct footer reads (GraftDataset.fileSchemas goes
    // executor-parallel above 64 files) — one driver-side DataFrameReader
    // per file here would serialize 100k footer jobs through the driver
    val bySchema = ds.fileSchemas(spark, files)
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
        val aligned = unified.fields.toSeq.map { f =>
          if (s.fieldNames.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }
        val tmp = Commit.staging(fs, new Path(ds.path))
        RowGroupBloom.applyOptions(
          df.select(aligned: _*).write.option("compression", ds.compression), rgb)
          .parquet(tmp.toString)
        // swap order matters: promote the rewritten files FIRST, then
        // delete originals — a crash between the two duplicates rows
        // (recoverable) instead of losing the group (not recoverable)
        fs.listStatus(tmp)
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .foreach { st =>
            val dst = new Path(parent, st.getPath.getName)
            // rename returns false instead of throwing on some FSes —
            // deleting originals after a silent false would lose the group
            require(fs.rename(st.getPath, dst), s"unify rewrite: rename ${st.getPath} -> $dst failed")
          }
        paths.foreach(p => fs.delete(new Path(p), false))
        fs.delete(tmp, true)
      }
    true
  }
}
