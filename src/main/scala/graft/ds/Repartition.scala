package graft.ds

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Repartition pipeline (reference `dataset/repartition.py:7-194`):
  * read a dataset → rewrite it with new sort/distinct/drop/partitioning/
  * compression/format/batching. The reference guards in-place overwrite
  * by requiring a cache first (`repartition.py:72-80`); here the guard is
  * write-to-temp-then-atomic-swap, which is both safer and cluster-
  * friendly (no driver-side materialization of the whole dataset).
  */
object Repartition {

  def run(
      spark: SparkSession,
      source: GraftDataset,
      dest: GraftDataset,
      mode: WriteMode = WriteMode.Overwrite,
      batchRows: Option[Long] = None,
      timeBatch: Option[(String, String)] = None,
      deleteSource: Boolean = false): Long = {

    val inPlace = samePlace(spark, source, dest)

    // source.df() is built INSIDE the lock everywhere the source can be
    // concurrently mutated or deleted: the file listing happens at plan
    // time, so a df built before acquisition would be a stale snapshot —
    // a concurrent swap deletes its files mid-job (or worse, with
    // ignoreMissingFiles=true, silently rewrites a PARTIAL dataset)
    if (inPlace) {
      // In-place rewrite: a root [[Commit.rewrite]] under the dataset
      // lock, so a concurrent upsert/compact can't interleave with the
      // stage-read or the swap renames. The bloom sidecar carries
      // unchanged: a repartition pipeline only keeps or drops rows
      // (dedup/distinct/filter), so the old filter stays a key superset
      val fs = source.fs(spark)
      DatasetLock.withLock(fs, new Path(dest.path)) {
        Commit.rewrite(spark, DatasetWriter(dest, batchRows = batchRows, timeBatch = timeBatch),
          source.df(spark), Commit.Root, BloomIndex.load(fs, source.path))._1
      }
    } else if (deleteSource) {
      // move semantics: listing, copy and delete are one critical
      // section on the SOURCE — rows appended between an unlocked read
      // and the delete would be destroyed without ever being copied.
      // (The inner dest write takes the dest lock; lock order is always
      // source→dest here, and two opposite-direction moves of the same
      // pair are already user error.)
      DatasetLock.withLock(source.fs(spark), new Path(source.path)) {
        val n = DatasetWriter(dest, mode, batchRows = batchRows, timeBatch = timeBatch,
          rowGroupBloom = carriedContract(spark, source, dest))
          .write(spark, source.df(spark))
        source.fs(spark).delete(new Path(source.path), true)
        n
      }
    } else {
      // plain cross-location copy: still a critical section on the
      // SOURCE — a concurrent in-place rewrite/compact swaps the
      // source's files away mid-job, and with ignoreMissingFiles a
      // partial dataset would copy over silently. Same source→dest
      // lock order as the move branch (the inner write locks dest).
      DatasetLock.withLock(source.fs(spark), new Path(source.path)) {
        DatasetWriter(dest, mode, batchRows = batchRows, timeBatch = timeBatch,
          rowGroupBloom = carriedContract(spark, source, dest))
          .write(spark, source.df(spark))
      }
    }
  }

  /** Bloom contract for a cross-location copy/move: the DESTINATION's
    * own contracted columns win per column (an existing contracted dest
    * must not lose its layer to an append from elsewhere), the source's
    * carry over for columns the dest never contracted. */
  private def carriedContract(spark: SparkSession, source: GraftDataset,
      dest: GraftDataset): Seq[(String, Option[Long])] =
    (RowGroupBloom.load(dest.fs(spark), dest.path) ++
      RowGroupBloom.load(source.fs(spark), source.path)).distinctBy(_._1)

  /** True when source and dest name the SAME storage location — the
    * trigger for staged-swap in-place rewriting. Compared on the
    * fully-qualified URI (scheme + authority + path): two same-layout
    * roots on DIFFERENT filesystems (s3a://lake-a/ds/foo →
    * s3a://lake-b/ds/foo) are a legitimate cross-lake copy, and a
    * bare-path comparison would misroute them into the in-place branch,
    * where source.fs operations on dest-derived paths throw "Wrong FS"
    * and the copy becomes impossible for ANY pair sharing a relative
    * path. */
  private[ds] def samePlace(spark: SparkSession, source: GraftDataset, dest: GraftDataset): Boolean =
    source.fs(spark).makeQualified(new Path(source.path)).toUri ==
      dest.fs(spark).makeQualified(new Path(dest.path)).toUri

  /** Result of a [[compact]] pass. */
  final case class CompactStats(
      partitionsCompacted: Int, filesBefore: Long, filesAfter: Long)

  /** Partition-scoped small-file compaction: rewrite ONLY the leaf
    * partition directories carrying more files than their byte volume
    * needs at `targetFileBytes` (streaming sinks, per-batch appends and
    * incremental upserts all accrete small files; at 100 TB the
    * resulting per-file task overhead and footer-read fan-out dominate
    * scan cost long before data volume does).
    *
    * Scale shape:
    *  - Planning is FS metadata only (one listing per leaf dir, no data
    *    reads). The qualifying set feeds a partition-value predicate, so
    *    the single rewrite job's scan PRUNES to qualifying partitions —
    *    untouched partitions are never read, written, or renamed (their
    *    files keep identity and mtime).
    *  - ONE distributed job rewrites all qualifying partitions: rows
    *    are salted into `ceil(bytes / targetFileBytes)` buckets per
    *    partition (deterministic row-hash salt, no RNG) and shuffled
    *    once on (partition values, salt), so each task writes one
    *    bounded file — bin-packing parallelism is cluster-wide, not
    *    per-partition-sequential. Hash collisions between (dir, salt)
    *    groups can only MERGE buckets (fewer, larger files), never
    *    split them, so the post-compaction file count per partition is
    *    ≤ the plan's target and always < the pre-compaction count.
    *  - The arranged rows go to a plain layout writer (no batching, so
    *    it adds no exchange; the clustering sort it adds is task-local).
    *    Staging, promotion and sidecar upkeep are [[Commit.rewrite]]'s:
    *    a root swap when unpartitioned, else the per-partition swap the
    *    partition-scoped upsert uses.
    *
    * Hive value parsing: qualifying partitions are matched by
    * string-compare of the partition column against the URL-decoded
    * directory value (`col.cast("string") <=> lit(value)`), which
    * Catalyst still folds into PartitionFilters; `__HIVE_DEFAULT_
    * PARTITION__` maps to an IS NULL match. */
  def compact(
      spark: SparkSession,
      ds: GraftDataset,
      targetFileBytes: Long = 128L * 1024 * 1024): CompactStats = {
    val fs0 = ds.fs(spark)
    require(fs0.exists(new Path(ds.path)), s"compact: no dataset at ${ds.path}")
    // the lock covers planning too: a file landing between the listing
    // and the swap would be silently dropped by the partition rewrite
    DatasetLock.withLock(fs0, new Path(ds.path))(compactLocked(spark, ds, targetFileBytes))
  }

  private def compactLocked(
      spark: SparkSession,
      ds: GraftDataset,
      targetFileBytes: Long): CompactStats = {
    import org.apache.spark.sql.functions._
    val fs = ds.fs(spark)
    val root = new Path(ds.path)
    val parts = ds.partitioning

    def leafDirs(p: Path, d: Int): Seq[Path] = Commit.hiveLeafDirs(fs, p, d)
    def dataFiles(p: Path) =
      fs.listStatus(p).toSeq.filter(st => st.isFile && !Commit.hidden(st.getPath.getName))

    val qroot = fs.makeQualified(root).toString
    val plan = leafDirs(root, parts.length).map { leaf =>
      val files = dataFiles(leaf)
      val bytes = files.map(_.getLen).sum
      val want = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val rel = fs.makeQualified(leaf).toString.stripPrefix(qroot).stripPrefix("/")
      (rel, files.size, want)
    }
    val before = plan.map(_._2.toLong).sum
    val todo = plan.filter { case (_, have, want) => have > want }
    if (todo.isEmpty) return CompactStats(0, before, before)

    val df = ds.df(spark)
    val dataCols = df.columns.filterNot(parts.contains)

    val (arranged, scope) = if (parts.isEmpty) {
      // whole-dataset compaction: one bounded-width rewrite + root swap
      (df.repartition(todo.head._3), Commit.Root)
    } else {
      // decode `col=value` path segments → (string values..., want).
      // Spark's own hive unescape (%XX only) — URLDecoder would also
      // turn a literal '+' into a space, silently skipping (or worse,
      // colliding) partitions whose value contains '+'
      def decode(seg: String): String =
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.substring(seg.indexOf('=') + 1))
      val wantRows = todo.map { case (rel, _, want) =>
        org.apache.spark.sql.Row.fromSeq(rel.split('/').toSeq.map(decode) :+ want)
      }
      val keyCols = parts.map(c => s"__k_$c")
      val wantSchema = org.apache.spark.sql.types.StructType(
        keyCols.map(org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.StringType)) :+
          org.apache.spark.sql.types.StructField("__want",
            org.apache.spark.sql.types.IntegerType))
      val wantDf = spark.createDataFrame(
        spark.sparkContext.parallelize(wantRows, 1), wantSchema)

      val hiveNull = "__HIVE_DEFAULT_PARTITION__"
      val pruned = df.filter(todo.map { case (rel, _, _) =>
        parts.zip(rel.split('/').map(decode)).map { case (c, v) =>
          if (v == hiveNull) col(c).isNull else col(c).cast("string") <=> lit(v)
        }.reduce(_ && _)
      }.reduce(_ || _))

      val keyed = parts.zip(keyCols).foldLeft(pruned) { case (d, (c, k)) =>
        d.withColumn(k, when(col(c).isNull, lit(hiveNull)).otherwise(col(c).cast("string")))
      }
      val salted = keyed
        .join(broadcast(wantDf), keyCols.map(k => keyed(k) <=> wantDf(k)).reduce(_ && _))
        .withColumn("__salt",
          pmod(xxhash64(struct(dataCols.toIndexedSeq.map(col): _*)), col("__want").cast("long")))
      val totalWant = todo.map(_._3).sum
      // a qualifying partition whose files held zero rows stages
      // nothing — its live dir is left alone rather than swapped with air
      (salted.repartition(totalWant, (parts.map(col) :+ col("__salt")): _*)
        .select(df.columns.toIndexedSeq.map(col): _*), Commit.Partitions(Set.empty))
    }
    // the layout writer keeps the dataset's bloom contract and its
    // clustering (a task-local sort by partition and cluster columns):
    // without them every maintenance sweep would undo the layout the
    // writes paid for. Compaction keeps every row, so the bloom sidecar
    // stays valid as it is: a root swap carries it, partition swaps
    // leave it in place untouched.
    val (_, promoted) = Commit.rewrite(spark, DatasetWriter(ds.layout), arranged, scope,
      if (parts.isEmpty) BloomIndex.load(fs, ds.path) else None)
    val after = leafDirs(root, parts.length).map(dataFiles(_).size.toLong).sum
    // count PROMOTED swaps, not planned ones — a skipped partition
    // (zero staged rows) must not read as compacted work
    CompactStats(promoted, before, after)
  }
}
