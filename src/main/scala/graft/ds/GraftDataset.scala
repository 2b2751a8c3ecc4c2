package graft.ds

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.SchemaUnify

/** Sort spec: per-column direction (reference `utils/base.py:40-55` +
  * `dataset/base.py:77-89`; explicit directions fix the reference's
  * `ascending or True` bug noted in SURVEY §2.12). */
final case class SortSpec(cols: Seq[(String, Boolean)]) {
  def orders: Seq[Column] = cols.map { case (c, asc_) => if (asc_) asc(c) else desc(c) }
  def sqlOrderBy: String = cols.map { case (c, a) => s"$c ${if (a) "ASC" else "DESC"}" }.mkString(", ")
}
object SortSpec {
  def asc(cols: String*): SortSpec = SortSpec(cols.map(_ -> true))
  val none: SortSpec = SortSpec(Nil)
}

/** Keyed-dedup spec (reference A2, `utils/table.py:230-288`): keep
  * first/last row per `subset` under `presort` order. A total order is
  * pinned (presort + remaining columns) so results are deterministic —
  * the reference is nondeterministic without presort (SURVEY §7.3). */
final case class DedupSpec(subset: Seq[String], presort: SortSpec = SortSpec(Nil), keepLast: Boolean = false)

/** A graft dataset ≡ a directory of columnar files (reference
  * `dataset/base.py:23-61`): (path, format, partitioning, compression,
  * schema) + the sticky materialization pipeline (drop → dedup → sort,
  * reference `dataset/base.py:118-142`) applied at every `df`.
  *
  * Every read of a parquet dataset (`df`, `register`, snapshot reads,
  * the existing side of a delta or upsert) goes through one function,
  * [[raw]]: list the files once, group them by footer schema, and pass
  * the schema to Spark, so planning a read runs no Spark job. Footers
  * are read once per file version and cached on the driver; more than
  * 64 uncached files fan out over executors. A multi-schema dataset is
  * read one scan per schema group, which keeps each scan vectorized and
  * lets Catalyst push filters and pruning into each group's scan.
  */
final case class GraftDataset(
    path: String,
    format: String = "parquet",
    partitioning: Seq[String] = Nil,
    compression: String = "zstd",
    schema: Option[StructType] = None,
    sortBy: SortSpec = SortSpec(Nil),
    // write-time clustering contract: rewrites of this dataset (writes,
    // upsert merges, compaction) keep rows task-sorted by these columns
    // so parquet row-group stats stay range-selective — recorded HERE,
    // not only on the writer, because maintenance rewrites (compact)
    // would otherwise silently destroy the layout the writes paid for
    clusterBy: Seq[String] = Nil,
    dedup: Option[DedupSpec] = None,
    distinct: Boolean = false,
    dropCols: Seq[String] = Nil,
    // explicit file list (manifest-snapshot reads): when set, scans read
    // exactly these files instead of listing `path`
    files: Seq[String] = Nil,
    // hive-discovery root for explicit-file reads; when None the deepest
    // common directory is used, which can sit INSIDE a partition dir if
    // every listed file shares one partition value — callers that know
    // the dataset root (TimeFly) must pass it
    filesBasePath: Option[String] = None) {

  // Spark registers no "feather" data source: such a dataset could only
  // fail later, inside Spark, on its first read or write
  require(format != "feather",
    "GraftDataset: feather is not a dataset format; read and write feather files with graft.sources.FeatherIO")

  def withSort(cols: (String, Boolean)*): GraftDataset = copy(sortBy = SortSpec(cols))
  def withDedup(subset: Seq[String], presort: SortSpec = SortSpec(Nil), keepLast: Boolean = false): GraftDataset =
    copy(dedup = Some(DedupSpec(subset, presort, keepLast)))
  def withDrop(cols: String*): GraftDataset = copy(dropCols = cols)
  def withDistinct: GraftDataset = copy(distinct = true)
  def withClusterBy(cols: String*): GraftDataset = copy(clusterBy = cols)

  /** The storage layout alone (path, format, partitioning, compression,
    * schema, clustering), without the read pipeline or a pinned file
    * list: the target of a layout-only writer ([[Commit.rewrite]]). */
  private[ds] def layout: GraftDataset = copy(sortBy = SortSpec.none, dedup = None,
    distinct = false, dropCols = Nil, files = Nil, filesBasePath = None)

  /** Scan-time FILE pruning, the same file test [[AutoPrune]]'s index
    * applies: a dataset reading only files whose [[StatsIndex]] ranges
    * can satisfy `predicate` and whose contracted [[RowGroupBloom]]
    * blooms do not rule out its `=`/`IN` conjuncts. The caller still
    * applies the predicate — pruning guarantees a superset of the
    * needed files, never exactness. With no sidecar (or no extractable
    * conjunct) this is `this` unchanged. At 100 TB this is the step
    * BEFORE Spark's own row-group skipping: the driver drops most of a
    * clustered dataset's million-file listing from one sidecar read,
    * zero footer RPCs (the bloom level reads each file version's footer
    * once, then answers from its cache). An explicit-file dataset stats
    * only the files that reach a bloom probe. */
  def pruned(spark: SparkSession, predicate: Column): GraftDataset = {
    val f = fs(spark)
    val test = StatsIndex.toExpression(predicate).flatMap(e => StatsPrunedFileIndex.fileTest(
      f, spark.sparkContext.hadoopConfiguration, new Path(path), Seq(e)))
    test match {
      case None => this
      case Some(keep) =>
        // a pinned file is stat'd only when a bloom probe reaches it
        val all: Seq[(String, () => FileStatus)] =
          if (files.nonEmpty) files.map(p => p -> (() => f.getFileStatus(new Path(p))))
          else fileStatuses(spark).map { case (p, st) => p -> (() => st) }
        val kept = all.filter { case (p, st) => keep(new Path(p), st).kept }
        // nothing pruned → `this`, NOT a full-listing copy: pinning the
        // point-in-time file list would hide later appends and force
        // per-file stat RPCs for zero gain
        if (kept.size == all.size) this
        else {
          // an empty selection still needs a schema-bearing scan — keep
          // one file; its rows die at the caller's filter
          val sel = if (kept.isEmpty) all.take(1) else kept
          copy(files = sel.map(_._1), filesBasePath = Some(path))
        }
    }
  }

  /** Reference S8 (`cache_storage` local mirror of remote files,
    * `base.py:30`): in Spark the executor-local persisted copy IS the
    * cache — `DISK_ONLY` mirrors remote-object-store bytes onto local
    * disk once, subsequent actions read locally. Lifecycle is the
    * caller's (`unpersist()`), same as the reference's cache dir. */
  def cached(spark: SparkSession,
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.DISK_ONLY): DataFrame =
    df(spark).persist(level)

  /** Reference export edge (`to_arrow`/`to_pandas`/`to_polars`,
    * `utils/table.py:8-92`): the dataset's pipeline result as Arrow IPC
    * stream bytes any Arrow consumer (pyarrow/pandas/polars) maps
    * directly. Executors encode the batches; the bytes are
    * driver-memory-bounded by design, exactly like the reference's
    * in-memory Table — the 100 TB interchange path is parquet, this is
    * the last-mile edge for small results. */
  def collectAsArrow(spark: SparkSession): Array[Byte] =
    graft.sources.FeatherIO.collectAsArrow(df(spark))

  /** Same edge, streamed to a file (IPC stream format). */
  def toArrowStream(spark: SparkSession, outPath: String): Long =
    graft.sources.FeatherIO.writeStream(df(spark), outPath)

  /** Recover from crashed rewrites ([[Commit.recover]]: restore a
    * backup whose live dir is gone, delete every other backup and the
    * staging dir) and sweep crashed lock steals. Runs under the dataset
    * lock — deleting an in-flight swap's backup would make its rollback
    * impossible. Returns the deleted paths. */
  def vacuum(spark: SparkSession): Seq[String] =
    DatasetLock.withLock(fs(spark), new Path(path))(vacuumLocked(spark))

  private def vacuumLocked(spark: SparkSession): Seq[String] = {
    val f = fs(spark)
    val p = new Path(path)
    val recovered = Commit.recover(f, p)
    // crashed lock STEALS leave `.<name>__lock.staleNNN` files (rename
    // landed, delete didn't). The live lock `.<name>__lock` — ours,
    // since vacuum runs under it — is never touched: the ".stale"
    // infix is required, not just the prefix.
    val staleLocks = Option(p.getParent).filter(f.exists(_)).toSeq
      .flatMap(f.listStatus(_).toSeq)
      .filter(st => st.isFile &&
        st.getPath.getName.startsWith(s".${p.getName}__lock.stale"))
    recovered ++ staleLocks.map { st => f.delete(st.getPath, false); st.getPath.toString }
  }

  def fs(spark: SparkSession): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession): Boolean = fs(spark).exists(new Path(path))

  def dataFiles(spark: SparkSession): Seq[String] = listed(spark).map(_._1)

  /** Data files with their listed lengths, from one listing. An
    * explicit-file dataset returns its list verbatim at length -1
    * (unknown): zero RPCs, where [[dataFileStatuses]] would stat each
    * file. */
  private[ds] def listed(spark: SparkSession): Seq[(String, Long)] =
    if (files.nonEmpty) files.map(_ -> -1L) else dataFileStatuses(spark)

  /** Data files with their byte sizes, from ONE recursive listing —
    * consumers needing sizes (manifest snapshots) must not re-stat each
    * file: that is O(files) driver RPCs on an object store. (The
    * explicit-file branch has no listing to reuse and must stat.) */
  def dataFileStatuses(spark: SparkSession): Seq[(String, Long)] =
    fileStatuses(spark).map { case (p, s) => p -> s.getLen }

  /** Each data file's name (as listed, or as pinned) with its status. */
  private def fileStatuses(spark: SparkSession): Seq[(String, FileStatus)] = {
    val f = fs(spark)
    if (files.nonEmpty) return files.map(p => p -> f.getFileStatus(new Path(p)))
    val p = new Path(path)
    if (!f.exists(p)) Nil
    else {
      val ext = "." + format
      // compressed text writes carry a codec suffix (part-*.csv.gz) —
      // strip it before the format check or existence detection fails
      // and Delta/Raise modes silently misbehave for those datasets
      val codecSuffixes = Seq(".gz", ".zst", ".snappy", ".bz2", ".deflate", ".lz4")
      // Hidden-subtree rule ([[Commit.hidden]], Spark's own): a
      // normal-named file inside a [[Commit]] backup or staging dir must
      // not count as data, but hive partition directories of
      // writer-generated columns (`__time_bucket=...`) are data Spark
      // reads, so this listing must count them too, or delta/raise
      // existence detection silently sees an empty dataset.
      // FsListing prunes hidden DIRECTORIES before descending (and its
      // listStatus walk avoids the super-linear per-file re-stat
      // `listFiles(recursive)` pays on hierarchical filesystems — see
      // its scaladoc for the w7 measurements).
      graft.core.FsListing.walkFiles(f, p, descend = n => !Commit.hidden(n))
        .iterator.flatMap { s =>
          val name = s.getPath.getName
          val base = codecSuffixes.foldLeft(name)((n, c) =>
            if (n.endsWith(c)) n.dropRight(c.length) else n)
          if (!Commit.hidden(name) && (base.endsWith(ext) || base.endsWith(".parquet")))
            Some(s.getPath.toString -> s)
          else None
        }.toSeq
    }
  }

  /** Raw load without the sticky pipeline: the one read of the
    * dataset's files, over a fresh listing (see the overload below). */
  def raw(spark: SparkSession): DataFrame = raw(spark, listed(spark))

  /** [[raw]] over `listing`, this dataset's data files with their listed
    * lengths as the caller took them (a write holds one already). A
    * pinned file list reads its own files, at the lengths `listing`
    * gives them. Parquet files are grouped by footer schema, each file's
    * read once per version ([[GraftDataset.schemaGroups]]):
    *   - one group is read as the directory (or the pinned files) with
    *     that schema passed in, so Spark runs no inference job. When
    *     the groups differ only in nullability or field order, the
    *     schema is the lowest path's, the file Spark's inference reads;
    *   - several groups are each read with their own schema, cast to
    *     the promoted unified schema and unioned by name (reference
    *     S1/S2 retry path, `reader.py:186-233`); each group reads from
    *     the dataset root, so hive partition columns follow the aligned
    *     data columns.
    * Spark still infers where a schema cannot be passed: csv and json,
    * a listing with no files, and a hive directory that names a column
    * the files also store (the directory's inferred type wins there, a
    * passed schema would give the footer's). A user-given `schema` is
    * read as given, with no footer read and `listing` never evaluated. */
  private[ds] def raw(spark: SparkSession, listing: => Seq[(String, Long)]): DataFrame = {
    if (format != "parquet" || schema.isDefined) return read(spark, schema)
    val own =
      if (files.isEmpty) listing
      else {
        val len = listing.toMap
        files.map(f => f -> len.getOrElse(f, -1L))
      }
    if (own.isEmpty) return read(spark, None)
    val groups = GraftDataset.schemaGroups(spark, own)
    val (unified, equal) = SchemaUnify.unifyAll(groups.map(_._1))
    if (equal) {
      val first = own.iterator.map(_._1).min
      val s = groups.collectFirst { case (s, fls) if fls.contains(first) => s }.get
      val dirCols = first.split('/').init.filter(_.contains('=')).map(_.takeWhile(_ != '=').toLowerCase)
      return read(spark, if (s.fieldNames.exists(n => dirCols.contains(n.toLowerCase))) None else Some(s))
    }
    val frames = groups.map { case (s, fls) =>
      val df = spark.read.schema(s).option("basePath", basePath).parquet(fls: _*)
      val aligned = unified.fields.map { f =>
        if (s.fieldNames.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      val partCols = df.columns.filterNot(unified.fieldNames.contains).map(col)
      df.select((aligned ++ partCols).toIndexedSeq: _*)
    }
    frames.reduce(_ unionByName _)
  }

  /** Spark's reader over the dataset's directory or pinned files, with
    * `given` as the schema when there is one. */
  private def read(spark: SparkSession, given: Option[StructType]): DataFrame = {
    val reader = spark.read
    val r0 = given.fold(reader)(reader.schema)
    // explicit leaf-file reads: without basePath Spark treats each
    // file's parent as its own root and skips hive partition discovery,
    // silently dropping the partition columns a directory read returns
    val r = if (files.nonEmpty) r0.option("basePath", basePath) else r0
    val srcs = if (files.nonEmpty) files else Seq(path)
    format match {
      case "parquet" => r.parquet(srcs: _*)
      case "csv" => r.option("header", "true").option("inferSchema", given.isEmpty.toString).csv(srcs: _*)
      case "json" => r.json(srcs: _*)
      case other => r.format(other).load(srcs: _*)
    }
  }

  /** Hive-discovery root of file-list reads: the dataset root, or for
    * explicit-file reads `filesBasePath`, else [[commonParent]]. */
  private def basePath: String =
    if (files.isEmpty) path else filesBasePath.getOrElse(commonParent(files).toString)

  /** Deepest directory containing every file — the hive-discovery base
    * for explicit-file reads. */
  private def commonParent(fls: Seq[String]): Path = {
    var b = new Path(fls.head).getParent
    def covers(p: Path): Boolean = {
      val prefix = p.toString + "/"
      fls.forall(_.startsWith(prefix))
    }
    while (b.getParent != null && !covers(b)) b = b.getParent
    b
  }

  /** The sticky pipeline: drop → dedup/distinct → sort (reference
    * `_drop_sort_distinct`, `dataset/base.py:118-142`). */
  def pipeline(in: DataFrame): DataFrame = {
    var df = in
    if (dropCols.nonEmpty) df = df.drop(dropCols: _*)
    dedup.foreach { d =>
      // Pin a deterministic total order: presort, then all remaining
      // columns ascending — keeps keep-first/last oracle-stable
      // (SURVEY §7.3). keepLast flips every direction, which is exactly
      // "last row under the presort order".
      val presortNames = d.presort.cols.map(_._1).toSet
      // MapType (and any container holding one) is not orderable in
      // Spark — it can neither join the tie-break ordering nor ride a
      // min/max struct payload. Such columns are excluded from the
      // pinned order (rows equal on every ORDERABLE column may pick
      // either map value — the order is still deterministic in all
      // comparable dimensions) and force the window formulation, whose
      // payload columns are never compared.
      def orderable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
        case _: org.apache.spark.sql.types.MapType => false
        case a: org.apache.spark.sql.types.ArrayType => orderable(a.elementType)
        case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => orderable(f.dataType))
        case _ => true
      }
      val unorderable = df.schema.fields.filterNot(f => orderable(f.dataType)).map(_.name).toSet
      val tieBreak = df.columns.toSeq
        .filterNot(c => d.subset.contains(c) || presortNames.contains(c) ||
          unorderable.contains(c))
        .map(_ -> true)
      val dirs = (d.presort.cols ++ tieBreak).map {
        case (c, a) => (c, if (d.keepLast) !a else a)
      }
      // Scale path: when the pinned order is uniform (all asc, or all
      // desc via keepLast), the winning row per key is min/max of
      // (order-key struct, row struct) — an aggregate with MAP-SIDE
      // PARTIAL combine, so the shuffle carries ~one candidate row per
      // key per partition instead of every row (a window sort shuffles
      // the whole table). Mixed explicit directions (or an unorderable
      // payload column) fall back to the window formulation.
      val uniform = (dirs.isEmpty || dirs.map(_._2).distinct.size == 1) &&
        unorderable.isEmpty
      if (uniform) {
        val keyCols = (if (dirs.isEmpty) Seq(df.columns.head) else dirs.map(_._1)).map(col)
        val rowStruct = struct(df.columns.toIndexedSeq.map(col): _*)
        val ranked = struct(struct(keyCols: _*).as("k"), rowStruct.as("r"))
        val pick = if (dirs.nonEmpty && !dirs.head._2) max(ranked) else min(ranked)
        df = df.groupBy(d.subset.map(col): _*)
          .agg(pick.as("__m"))
          .select(col("__m.r.*"))
      } else {
        val orderCols0 = dirs.map { case (c, a) => if (a) asc(c) else desc(c) }
        // row_number demands an ordered window; with every non-key
        // column unorderable the order is degenerate — any constant
        // (the key, constant per partition) satisfies the requirement
        val orderCols = if (orderCols0.nonEmpty) orderCols0 else Seq(asc(d.subset.head))
        val w = Window.partitionBy(d.subset.map(col): _*).orderBy(orderCols: _*)
        df = df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
      }
    }
    if (distinct && dedup.isEmpty) df = df.distinct()
    if (sortBy.cols.nonEmpty) df = df.orderBy(sortBy.orders: _*)
    df
  }

  /** Materialize under the sticky pipeline. */
  def df(spark: SparkSession): DataFrame = pipeline(raw(spark))

  /** Register as a SQL view (reference S5, `reader.py:252`). */
  def register(spark: SparkSession, name: String): DataFrame = {
    val d = df(spark)
    d.createOrReplaceTempView(name)
    d
  }
}

object GraftDataset {
  /** Each parquet file's footer schema (JSON; one shared string per
    * distinct schema) with the length it was read at, keyed by path. A
    * listed file hits only at its listed length; a pinned file (length
    * -1) hits at any. Spark writes mint fresh file names, so an append
    * or a rewrite leaves every other entry valid and only the new files
    * open a footer. Bounded by an entry cap and a path-character budget:
    * a long-lived session sweeping many million-file datasets must not
    * accrete driver heap per file it ever read. */
  private[ds] val footerSchemas = new WeightedLru[(Long, String)](1 << 20, 64L << 20,
    (path, _) => path.length.toLong)

  /** The files of `listing` grouped by footer schema, reading the
    * footers `cache` lacks at their listed length (more than 64 fan out
    * as one Spark job, [[graft.sources.ParquetMeta.overFooters]]). */
  private[ds] def schemaGroups(spark: SparkSession, listing: Seq[(String, Long)],
      cache: WeightedLru[(Long, String)] = footerSchemas): Seq[(StructType, Seq[String])] = {
    val hits = listing.map { case (p, len) =>
      Option(cache.get(p)).filter(e => len < 0 || e._1 == len).map(_._2) }
    val missing = listing.zip(hits).collect { case (pl, None) => pl }
    val read = graft.sources.ParquetMeta.footerSchemas(spark, missing.map(_._1)).map(_.intern)
    missing.zip(read).foreach { case ((p, len), s) => cache.put(p, (len, s)) }
    val fresh = read.iterator
    listing.zip(hits).map { case ((p, _), hit) => p -> hit.getOrElse(fresh.next()) }
      .groupBy(_._2).toSeq.map { case (sj, fls) =>
        (org.apache.spark.sql.types.DataType.fromJson(sj).asInstanceOf[StructType], fls.map(_._1))
      }
  }
}
