package graft.ds

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation,
  PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType

/** Automatic file skipping for PLAIN Spark reads — SQL passthrough
  * included — from the stats index and the row-group blooms.
  * [[GraftDataset.pruned]] gives the graft API file skipping, but a
  * user who registers a graft dataset as a SQL
  * table (`spark.read.parquet(path).createOrReplaceTempView(...)`) and
  * queries it with `spark.sql` bypasses that call site entirely. This
  * module closes the gap the way Delta Lake closes it: a delegating
  * [[FileIndex]] that re-uses the filters Catalyst ALREADY pushes to
  * the scan. `FileSourceScanExec.selectedPartitions` hands the pushed
  * data filters to `FileIndex.listFiles(partitionFilters, dataFilters)`
  * — the standard engine seam for format-owned file skipping — so the
  * wrapper compiles those resolved expressions through
  * [[StatsIndex.compile]] and drops every file whose recorded ranges
  * prove it cannot match; then, on a dataset with a [[RowGroupBloom]]
  * contract, it drops every file whose own row-group blooms all say
  * "absent" for a pushed `=`/`IN` on a contracted column (the level
  * min/max cannot give on an unclustered key). No query rewrite, no
  * new operator: partition pruning runs first (the underlying index
  * applies partitionFilters), stats then bloom pruning compose after
  * it, and the untouched scan still applies the full predicate to
  * whatever survives — the same superset-safety argument as every
  * other StatsIndex consumer.
  *
  * Two ways in, same [[StatsPruneRule]]:
  *  - `spark.sql.extensions=graft.plans.GraftExtensions` at session
  *    build — ONE extensions class ships the custom functions AND this
  *    rule (the zero-code-change path for a cluster-wide deployment;
  *    injected post-hoc-resolution, the analyzer's run-once batch, so
  *    the sidecar `exists` probe is paid once per query);
  *  - [[AutoPrune.enable]] on a live session (adds the rule to
  *    `experimental.extraOptimizations` — the REPL/notebook path).
  *
  * Cost model, spelled out because the rule sees EVERY file relation in
  * every plan: relations are wrapped only when their single root
  * carries a `_stats_index` sidecar or a `_rowgroup_bloom` contract —
  * one driver-side `exists` RPC per unwrapped file relation per rule
  * pass, a second only when the stats sidecar is missing (the analyzer
  * injection runs once; the experimental batch converges in two passes
  * because wrapped relations are skipped). A wrapped scan then pays,
  * in `listFiles`, one `getFileStatus` per sidecar: through
  * [[StatsIndex.loadCached]] and [[RowGroupBloom.loadCached]] an
  * unchanged root/segment/contract file revalidates by (mtime, length),
  * and writes invalidate naturally (fresh segment names, changed
  * stamps). The bloom level reads, on the driver and without a Spark
  * job, the footer and blooms of each stats-surviving file it has not
  * seen at this (length, mtime) — at most
  * [[RowGroupBloom.MaxBloomReadsPerListing]] files per listing, the
  * rest pass unpruned — and then answers from the
  * [[RowGroupBloom.BloomCacheBytes]] LRU: a warm lookup opens only the
  * files its key may be in. At 100 TB those driver RPCs buy removing
  * thousands of files from the scan before scheduling or task-side
  * footer IO happens.
  *
  * The tasks then do not ask again. On a contracted dataset the rule
  * also swaps in [[PrunedParquetFormat]], and the index tags each kept
  * file whose blooms it read with the row groups the statistics and
  * blooms admit ([[RowGroupBloom.KeptRowGroups]]). Where each kept
  * probe-column chunk is one page and a split's kept row groups are
  * adjacent, its task reads only those row groups and opens no bloom,
  * column index or offset index: the driver's answer already covers
  * what those would say. Other tagged splits take Spark's reader. */
object AutoPrune {

  /** Install [[StatsPruneRule]] on a live session (idempotent). */
  def enable(spark: SparkSession): Unit = {
    val already = spark.experimental.extraOptimizations
      .exists(_.isInstanceOf[StatsPruneRule])
    if (!already)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ StatsPruneRule(spark)
  }
}

/** Swaps a [[StatsPrunedFileIndex]] into every [[HadoopFsRelation]]
  * whose governing dataset directory carries a stats sidecar or a
  * row-group-bloom contract, and, with a contract, Spark's parquet
  * format for a [[PrunedParquetFormat]]. Pure
  * metadata rewrite — output attributes, schema, and semantics are
  * untouched, so it is safe at any plan phase.
  *
  * Root resolution: a single-root relation's root IS the dataset dir
  * (the common `spark.read.parquet(dir)` shape). A MULTI-root relation
  * is an explicit file list — the per-schema-group reads of a
  * multi-schema [[GraftDataset.raw]] are the in-house producer — whose
  * dataset dir is the deepest common ancestor of the roots; if that dir
  * carries the sidecar, the same wrapper applies (sidecar keys are
  * dataset-dir-relative, so pruning is root-shape-agnostic). A union of
  * unrelated dirs resolves to some ancestor WITHOUT a sidecar and is
  * left alone, and the ancestor fold is O(distinct parent dirs), not
  * O(files). */
case class StatsPruneRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case l: LogicalRelation =>
      l.relation match {
        case r: HadoopFsRelation if !r.location.isInstanceOf[StatsPrunedFileIndex]
            && r.location.rootPaths.nonEmpty =>
          val hconf = spark.sessionState.newHadoopConf()
          val root0 = StatsPruneRule.datasetRootOf(r.location.rootPaths)
          // the contracted bloom columns at a root that carries either
          // sidecar; None when it carries neither
          def contractAt(rt: Path): Option[Set[String]] =
            try {
              val fs = rt.getFileSystem(hconf)
              val contract = RowGroupBloom.loadCached(fs, rt.toString).map(_._1).toSet
              Option.when(contract.nonEmpty || fs.exists(StatsIndex.sidecar(rt.toString)))(contract)
            } catch { case scala.util.control.NonFatal(_) => None }
          // a single root can be a FILE (a one-file schema group of a
          // multi-schema GraftDataset.raw, or spark.read.parquet(file)) —
          // its dataset dir is the parent, same as the multi-root
          // ancestor fold. Only the sidecar-miss path pays the extra
          // isFile RPC, and only a root PROVEN to be a file retries the
          // parent (a partition subdir read must not silently adopt the
          // whole dataset's sidecar — its keys wouldn't match the
          // listing anyway).
          val root = root0.flatMap(rt => contractAt(rt).map(rt -> _)).orElse(root0.flatMap { rt =>
            val parent = rt.getParent
            if (parent == null) None
            else {
              val isFile =
                try rt.getFileSystem(hconf).getFileStatus(rt).isFile
                catch { case scala.util.control.NonFatal(_) => false }
              if (isFile) contractAt(parent).map(parent -> _) else None
            }
          })
          root match {
            case None => l
            case Some((rt, contract)) =>
              // only Spark's own parquet format, never a subclass or
              // another format, reads through the kept row groups
              val format =
                if (contract.nonEmpty && r.fileFormat.getClass == classOf[ParquetFileFormat])
                  new PrunedParquetFormat(contract)
                else r.fileFormat
              l.copy(relation = r.copy(location = new StatsPrunedFileIndex(r.location, rt, hconf),
                fileFormat = format)(r.sparkSession))
          }
        case _ => l
      }
  }
}

object StatsPruneRule {
  /** The dataset directory governing a relation's roots: the single
    * root itself, or the deepest common ancestor of an explicit
    * file-list's PARENTS. Cost honesty: every root pays one getParent
    * (unavoidable — O(roots) cheap driver work per rule invocation on
    * the relation, ~tens of ms at a million files), but the ancestor
    * FOLD runs over the distinct parent set only — a hive layout has
    * few distinct leaf dirs however many files it holds. */
  private[ds] def datasetRootOf(roots: Seq[Path]): Option[Path] =
    if (roots.sizeIs == 1) Some(roots.head)
    else {
      def common(a: Path, b: Path): Path = {
        val as = a.toString.split('/')
        val bs = b.toString.split('/')
        val n = as.zip(bs).takeWhile { case (x, y) => x == y }.length
        if (n == 0) null else new Path(as.take(n).mkString("/"))
      }
      try {
        // single pass, no intermediate per-file collection: parents
        // dedup into a small set as they stream by
        val parents = scala.collection.mutable.LinkedHashSet.empty[Path]
        roots.foreach { r => val p = r.getParent; if (p != null) parents += p }
        if (parents.isEmpty) None
        else Option(parents.reduce { (a, b) =>
          if (a == null || b == null) null else common(a, b)
        })
      } catch { case scala.util.control.NonFatal(_) => None }
    }
}

/** A [[FileIndex]] that delegates listing to `underlying`, then drops
  * files the root's `_stats_index` sidecar or the contracted row-group
  * blooms prove cannot satisfy the pushed data filters. Multiple
  * filters arrive as implicit conjuncts (Catalyst splits the WHERE into
  * `dataFilters`), so a file survives only if EVERY compiled test keeps
  * it — and any filter the compilers do not understand simply
  * contributes no test (the AND-drop rule of [[StatsIndex.compile]]'s
  * conservatism algebra, applied across the sequence). Files without
  * an index entry or without blooms always survive. A surviving file
  * whose blooms were read carries the row groups its task should read
  * ([[RowGroupBloom.KeptRowGroups]], for [[PrunedParquetFormat]]).
  *
  * `sizeInBytes` intentionally reports the UNPRUNED size: it feeds join
  * strategy choices (broadcast thresholds) at a point where the actual
  * file selection may not be known yet, and over-estimating can only
  * cost a missed broadcast, never an OOM. Driver-only object, like
  * every [[FileIndex]] (`FileSourceScanExec` holds its relation
  * transiently). */
final class StatsPrunedFileIndex(
    private val underlying: FileIndex, root: Path, hconf: Configuration) extends FileIndex {

  /** The index this one filters, for callers that need its partitions. */
  private[ds] def inner: FileIndex = underlying
  override def rootPaths: Seq[Path] = underlying.rootPaths
  override def inputFiles: Array[String] = underlying.inputFiles
  override def refresh(): Unit = underlying.refresh()
  override def sizeInBytes: Long = underlying.sizeInBytes
  override def partitionSchema: StructType = underlying.partitionSchema

  // CacheManager and sameResult compare relations with equals():
  // HadoopFsRelation (a case class) recurses into its FileIndex, and
  // InMemoryFileIndex compares by root paths. Without a matching
  // override here the wrapper compares by object identity, so with the
  // rule enabled a second read of a cached sidecar-bearing path builds
  // a NEW wrapper instance and silently misses df.cache() — the
  // wrapper must be exactly as equal as what it wraps. Pruning state
  // is NOT part of identity: the sidecar only changes which files the
  // scan lists, never the relation's logical result.
  override def equals(other: Any): Boolean = other match {
    case o: StatsPrunedFileIndex => underlying == o.underlying
    case _ => false
  }
  override def hashCode(): Int = underlying.hashCode()

  override def listFiles(
      partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[PartitionDirectory] = {
    val base = underlying.listFiles(partitionFilters, dataFilters)
    if (dataFilters.isEmpty) return base
    StatsPrunedFileIndex.fileTest(root.getFileSystem(hconf), hconf, root, dataFilters) match {
      case None => base // no sidecar loads, or no filter compiles
      case Some(verdict) =>
        // a file's kept row groups ride to its task as file metadata
        // (PartitionedFile.otherConstantMetadataColumnValues), where
        // PrunedParquetFormat reads them
        base.map(pd => pd.copy(files = pd.files.flatMap { f =>
          verdict(f.getPath, () => f.fileStatus) match {
            case RowGroupBloom.Dropped => None
            case k: RowGroupBloom.KeptRowGroups =>
              Some(f.copy(metadata = f.metadata + (RowGroupBloom.KeptRowGroups.Key -> k)))
            case RowGroupBloom.Whole => Some(f)
          }
        }))
    }
  }
}

object StatsPrunedFileIndex {
  /** The driver's file test for conjuncts `filters` over the dataset at
    * `root`: the stats tests when `_stats_index` loads, then the bloom
    * tests when `_rowgroup_bloom` loads (blooms are read only for files
    * the stats keep). None when neither level has a test. One call is
    * one listing for [[RowGroupBloom.MaxBloomReadsPerListing]].
    *
    * The test takes a file's path and a way to its status: only the
    * bloom level calls `status` (its cache key needs length and mtime),
    * so a caller holding just names — a pinned file list — pays a stat
    * RPC only for files that reach a bloom probe. It answers a
    * [[RowGroupBloom.Verdict]]; a status that cannot be had keeps the
    * file whole. */
  private[ds] def fileTest(fs: FileSystem, conf: Configuration, root: Path,
      filters: Seq[Expression]): Option[(Path, () => FileStatus) => RowGroupBloom.Verdict] = {
    val stats = StatsIndex.loadCached(fs, root.toString)
      .flatMap(StatsIndex.fileTest(fs, root.toString, _, filters))
    val contract = RowGroupBloom.loadCached(fs, root.toString).map(_._1).toSet
    val probes = if (contract.isEmpty) Nil else filters.flatMap(RowGroupBloom.probes(_, contract))
    val blooms = Option.when(probes.nonEmpty)(RowGroupBloom.fileVerdict(fs, conf, probes))
    if (stats.isEmpty && blooms.isEmpty) None
    else Some((path, status) =>
      if (!stats.forall(_(path))) RowGroupBloom.Dropped
      else blooms.fold[RowGroupBloom.Verdict](RowGroupBloom.Whole) { b =>
        try b(status()) catch { case scala.util.control.NonFatal(_) => RowGroupBloom.Whole }
      })
  }
}

/** Spark's parquet format, reading each file as the driver decided:
  * [[StatsPruneRule]] installs it on relations whose dataset carries a
  * row-group-bloom `contract`, and [[StatsPrunedFileIndex]] tags each
  * kept file it probed with its [[RowGroupBloom.KeptRowGroups]].
  *
  * For a scan with pushed `=`/`IN` conjuncts on contracted columns, a
  * task given a tagged file whose probed columns cover those conjuncts,
  * and whose kept chunks of those columns are each one data page, reads
  * the kept row groups of its split as one (start, length) range, with
  * parquet-mr's bloom level off and without pushing those conjuncts or
  * their `IsNotNull`: the driver already asked each bloom, and one page
  * leaves a column or offset index nothing the row-group statistics the
  * driver checked did not decide, so the task opens neither. Spark's
  * `Filter` above the scan applies the whole predicate. A split whose
  * kept row groups are not adjacent takes Spark's reader, which reads
  * the footer once where one range per run would read it once each.
  * So do tagged files with a multi-page chunk (a sorted key, whose page
  * index still skips pages) and untagged files — past
  * [[RowGroupBloom.MaxBloomReadsPerListing]], unreadable, or listed
  * without a probe.
  *
  * Equal to, hashed like and printed as `ParquetFileFormat`, so plans,
  * `df.cache()` lookups and explain output do not tell the two apart. */
final class PrunedParquetFormat(contract: Set[String]) extends ParquetFileFormat {
  override def hashCode(): Int = classOf[ParquetFileFormat].hashCode()

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[sources.Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    def reader(pushed: Seq[sources.Filter], conf: Configuration) =
      super.buildReaderWithPartitionValues(sparkSession, dataSchema, partitionSchema,
        requiredSchema, pushed, options, conf)
    val probed = PrunedParquetFormat.probedColumns(filters, dataSchema, contract)
    val full = reader(filters, hadoopConf)
    if (probed.isEmpty) full
    else {
      val lean = reader(filters.filterNot {
        case sources.EqualTo(c, _) => probed(c)
        case sources.In(c, _) => probed(c)
        case sources.IsNotNull(c) => probed(c)
        case _ => false
      }, {
        val conf = new Configuration(hadoopConf)
        conf.setBoolean(org.apache.parquet.hadoop.ParquetInputFormat.BLOOM_FILTERING_ENABLED, false)
        conf
      })
      file => file.otherConstantMetadataColumnValues.get(RowGroupBloom.KeptRowGroups.Key) match {
        case Some(k: RowGroupBloom.KeptRowGroups) if k.onePage && probed.subsetOf(k.cols) =>
          k.ranges(file.start, file.length) match {
            case Seq() => Iterator.empty
            case Seq((start, length)) => lean(file.copy(start = start, length = length))
            // each range would read the footer again: one full read
            // reads it once
            case _ => full(file)
          }
        case _ => full(file)
      }
    }
  }
}

object PrunedParquetFormat {
  /** The contracted columns that pushed `filters` probe: a top-level
    * `=` or `IN` with a non-null value on a column of a probe kind —
    * the conjuncts [[RowGroupBloom.probes]] answers on the driver. */
  private[ds] def probedColumns(filters: Seq[sources.Filter], dataSchema: StructType,
      contract: Set[String]): Set[String] = {
    def probeable(c: String) = contract(c) &&
      dataSchema.find(_.name == c).exists(f => RowGroupBloom.kindOf(f.dataType).nonEmpty)
    filters.collect {
      case sources.EqualTo(c, v) if v != null && probeable(c) => c
      case sources.In(c, vs) if vs.exists(_ != null) && probeable(c) => c
    }.toSet
  }
}
