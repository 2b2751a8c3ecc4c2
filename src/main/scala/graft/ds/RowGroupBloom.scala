package graft.ds

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveComparator}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Persisted row-group-bloom contract — the `_rowgroup_bloom` sidecar
  * recording which columns of a parquet dataset carry write-time
  * row-group bloom filters (and their expected NDV, when pinned;
  * un-pinned columns are sized per row group by parquet's adaptive
  * filter, see [[applyOptions]]).
  *
  * Why it exists: the bloom options live on the WRITER
  * ([[DatasetWriter.withRowGroupBloom]]), so without a persisted
  * contract every maintenance rewrite (compact, upsert merge, delete,
  * repartition) would silently re-write files WITHOUT the filters the
  * original writes paid for — both point-lookup skip levels would decay
  * on exactly the long-lived datasets maintenance serves: Spark's
  * parquet reader drops the row groups of each file it opens, and the
  * driver drops whole files before any task opens them ([[fileVerdict]],
  * applied by [[StatsPrunedFileIndex]] and [[GraftDataset.pruned]]).
  * Under [[AutoPrune]] the driver's answer also names each kept file's
  * row groups ([[fileVerdict]]). Where those are adjacent and their
  * probe chunks one page each, the task reads just them, with no bloom
  * and no page index ([[PrunedParquetFormat]]). A write that
  * declares bloom columns persists the contract beside the data. Every
  * rewrite goes through [[Commit.rewrite]], which loads it and
  * re-applies the parquet options: a root rewrite stages the contract
  * with its files so it promotes atomically with them, and a
  * partition-scoped rewrite writes (or, for an opted-out writer,
  * deletes) it on the live root after promotion.
  *
  * Best-effort metadata, like every sidecar here: absent or corrupt
  * loads as "no contract" — rewrites simply skip the options (files
  * stay correct, lookups lose the skip layer until the next contracted
  * write), never fail. */
object RowGroupBloom {
  val FileName = "_rowgroup_bloom"
  private val Magic = "graft-rgbloom-v1"

  def sidecar(dsPath: String): Path = new Path(dsPath, FileName)

  def load(fs: FileSystem, dsPath: String): Seq[(String, Option[Long])] =
    contracts.read(fs, sidecar(dsPath), cached = false).getOrElse(Nil)

  /** [[load]] through the driver's (mtime, length)-keyed
    * [[ParsedSidecars]] cache, like [[StatsIndex.loadCached]]: the
    * per-scan path, where an unchanged contract costs one
    * `getFileStatus` and a missing one the same. */
  def loadCached(fs: FileSystem, dsPath: String): Seq[(String, Option[Long])] =
    contracts.read(fs, sidecar(dsPath), cached = true).getOrElse(Nil)

  private val contracts = new ParsedSidecars(parse)

  /** A malformed line throws, and the sidecar loads as absent. */
  private def parse(text: String): Option[Seq[(String, Option[Long])]] = {
    val lines = text.split('\n').filter(_.nonEmpty)
    if (lines.isEmpty || lines.head != Magic) None
    else Some(lines.tail.toSeq.map { ln =>
      ln.split('\t') match {
        case Array(c) => c -> None
        case Array(c, ndv) => c -> Some(ndv.toLong)
      }
    })
  }

  /** Stage + rename via the shared [[Sidecars]] protocol. */
  def write(fs: FileSystem, dsPath: String, cols: Seq[(String, Option[Long])]): Unit = {
    val body = (Magic +: cols.map { case (c, ndv) =>
      c + ndv.fold("")("\t" + _.toString)
    }).mkString("", "\n", "\n")
    Sidecars.atomicWrite(fs, sidecar(dsPath),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8), "rowgroup bloom contract")
  }

  def delete(fs: FileSystem, dsPath: String): Boolean =
    fs.delete(sidecar(dsPath), false)

  /** Fold the contracted parquet options onto a writer.
    *
    * Dictionary encoding is explicitly DISABLED for each bloom column:
    * parquet-mr drops a chunk's bloom filter whenever the chunk ends up
    * fully dictionary-encoded (the dictionary page is already an exact
    * membership filter), and whether that happens depends on the
    * dictionary PAGE-SIZE threshold, not on the data's semantics — a
    * unique-key column small enough to fit its dictionary under 1 MB
    * (e.g. a tiny scale factor) silently loses the very filters the
    * contract paid for, while the same column one scale up falls back
    * to plain and keeps them. A bloom-contracted column is by design a
    * high-cardinality point-lookup key where dictionary encoding is
    * ineffective anyway, so plain encoding is forced and the bloom
    * materializes at every scale (results are unchanged — this is an
    * encoding choice; RowGroupBloomSpec pins presence at a
    * dictionary-friendly row count).
    *
    * Sizing: a pinned NDV gives its exact split-block size. An
    * un-pinned column gets parquet's ADAPTIVE filter: the writer keeps
    * [[AdaptiveCandidates]] power-of-two candidates, drops each one
    * its distinct count outgrows, and writes the smallest survivor —
    * so every row group's filter is sized to that row group's
    * distinct keys at the 1% default FPP (a fixed un-pinned filter
    * is parquet's 1 MiB cap whatever the row count). Parquet-mr reads
    * the adaptive flag only as a GLOBAL key (the `#col` form is
    * ignored); it is harmless on pinned columns (the NDV is checked
    * first) and on columns with no bloom, and it is set only when some
    * contracted column is un-pinned. */
  def applyOptions[T](w: org.apache.spark.sql.DataFrameWriter[T],
      rgb: Seq[(String, Option[Long])]): org.apache.spark.sql.DataFrameWriter[T] = {
    val base = if (rgb.exists(_._2.isEmpty))
      w.option("parquet.bloom.filter.adaptive.enabled", "true") else w
    rgb.foldLeft(base) { case (acc, (c, ndv)) =>
      val e = acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.enable.dictionary#$c", "false")
      ndv match {
        case Some(n) => e.option(s"parquet.bloom.filter.expected.ndv#$c", n.toString)
        case None => e.option(s"parquet.bloom.filter.candidates.number#$c",
          AdaptiveCandidates.toString)
      }
    }
  }

  /** Adaptive candidates per un-pinned column: 16 sizes span parquet's
    * 1 MiB cap down to its 32-byte minimum, so no row group is held
    * above the smallest power of two that fits its keys (parquet stops
    * early at 1 KiB, the smallest size that holds its 500-key capacity
    * step). */
  val AdaptiveCandidates = 16

  /** Files one driver listing may open for their blooms: the same bound
    * as [[graft.sources.ParquetMeta.overFooters]]' driver branch. A
    * listing with more uncached files keeps the rest unpruned. */
  val MaxBloomReadsPerListing = 64

  /** Byte budget of the driver's bloom cache (bitset bytes, each
    * chunk's statistics bytes and a small per-entry charge); least
    * recently used entries go first. */
  val BloomCacheBytes: Long = 64L << 20

  /** One conjunct the blooms can answer: `col` equals one of `values`,
    * all of one `kind` — 'i' (Int), 'l' (Long) or 'b' (UTF-8 or binary
    * bytes), the parquet physical types INT32, INT64 and BINARY. */
  private[ds] final case class Probe(col: String, kind: Char, values: Seq[Any])

  /** The probe kind of a column type: int, long, string (binary
    * collation) and binary columns only. */
  private[ds] def kindOf(dt: DataType): Option[Char] = dt match {
    case IntegerType => Some('i')
    case LongType => Some('l')
    case StringType | BinaryType => Some('b')
    case _ => None
  }

  /** The probes in pushed filter `e` on contracted columns `cols`:
    * `attr = literal` and `attr IN (literals)`, through AND. Only a bare
    * attribute qualifies (a cast around the column yields nothing), a
    * resolved attribute only against literals of its own type, and only
    * int, long, string (binary collation) and binary columns. Null
    * literals, `<=>` and every other shape yield no probe; an IN list
    * drops its nulls (they match no row) and needs one non-null value.
    * The Column API's unresolved `=`/`in`/`and` functions compile the
    * same way; with no column type to check, the file's physical type
    * must match the literal's instead (see [[fileVerdict]]).
    *
    * The shapes come from [[StatsIndex.Shape]], the walker the range
    * tests use. The literal typing is this level's own: a bloom answers
    * only for the exact physical value it hashed, so a literal of
    * another type (an int against a long column, which a range
    * compares freely) must yield no probe. */
  private[ds] def probes(e: Expression, cols: Set[String]): Seq[Probe] = {
    import StatsIndex.Shape
    def attr(x: Expression): Option[(String, Option[DataType])] = x match {
      case a: AttributeReference if cols(a.name) => Some(a.name -> Some(a.dataType))
      case u: UnresolvedAttribute if u.nameParts.lengthCompare(1) == 0 && cols(u.nameParts.head) =>
        Some(u.nameParts.head -> None)
      case _ => None
    }
    def value(v: Any): Any = v match {
      case s: UTF8String => s.getBytes
      case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      case other => other
    }
    // typed values of one column; None when any value is not a literal
    // of the column's type
    def probe(target: Expression, items: Seq[Expression]): Option[Probe] =
      attr(target).flatMap { case (c, colType) =>
        val lits = items.map {
          case l: Literal if colType.forall(_ == l.dataType) => kindOf(l.dataType).map(_ -> l.value)
          case _ => None
        }
        val kinds = lits.flatten.map(_._1).distinct
        val vs = lits.flatten.collect { case (_, v) if v != null => value(v) }
        if (lits.forall(_.isDefined) && kinds.sizeIs == 1 && vs.nonEmpty) Some(Probe(c, kinds.head, vs))
        else None
      }
    Shape.of(e) match {
      case Some(Shape.Conj(l, r)) => probes(l, cols) ++ probes(r, cols)
      case Some(Shape.Cmp("=", l: Literal, r)) => probe(r, Seq(l)).toSeq
      case Some(Shape.Cmp("=", l, r)) => probe(l, Seq(r)).toSeq
      case Some(Shape.InList(t, items)) => probe(t, items).toSeq
      case _ => Nil
    }
  }

  /** What one row group's footer says of one column chunk: the row
    * group's byte range (`start`, `length`: where parquet-mr's split
    * rule places it), the chunk's statistics (null when unreadable), its
    * value count and its data-page count (-1 when the footer does not
    * say). */
  private[ds] final case class ChunkMeta(start: Long, length: Long, stats: Statistics[_],
      values: Long, pages: Int) {
    /** What the cache holds for it: a flat charge plus the statistics'
      * min and max, which a string or binary key keeps whole. */
    def bytes: Long = 64L + (if (stats == null || !stats.hasNonNullValue) 0L
      else Option(stats.getMinBytes).fold(0)(_.length).toLong + Option(stats.getMaxBytes).fold(0)(_.length))

    /** Could the chunk hold value `v` by its statistics? The rule of
      * parquet-mr's statistics level for `=`: no statistics admit
      * everything, an all-null chunk admits nothing, else `v` must lie
      * in [min, max] by the column's own order. */
    def admits(v: Any): Boolean =
      if (stats == null || stats.isEmpty) true
      else if (stats.isNumNullsSet && stats.getNumNulls == values) false
      else if (!stats.hasNonNullValue) true
      else try {
        val cmp = stats.comparator().asInstanceOf[PrimitiveComparator[Any]]
        val pv = v match {
          case b: Array[Byte] => Binary.fromConstantByteArray(b)
          case other => other
        }
        cmp.compare(stats.genericGetMin, pv) <= 0 && cmp.compare(pv, stats.genericGetMax) <= 0
      } catch { case scala.util.control.NonFatal(_) => true }
  }

  /** One file version's blooms for one column: the column's physical
    * kind ('i', 'l', 'b', or '-' when absent or of another type), one
    * filter per row group (null where the row group carries none) and
    * the footer's [[ChunkMeta]] per row group. */
  private[ds] final class ColBlooms(val kind: Char, val rowGroups: Array[BloomFilter],
      val chunks: Array[ChunkMeta]) {
    // bitsets, plus each chunk's footer facts
    val bytes: Long = rowGroups.iterator.map(b => if (b == null) 0L else b.getBitsetSize.toLong).sum +
      chunks.iterator.map(_.bytes).sum

    /** Per row group: might its bloom hold one of the probe's values? */
    def rowGroupsKept(p: Probe): Seq[Boolean] =
      if (p.kind != kind) rowGroups.toSeq.map(_ => true)
      else rowGroups.toSeq.map(bf => bf == null || p.values.exists(v => mightContain(bf, v)))

    /** A file is dropped only when it has row groups, each carries a
      * bloom of the probe's kind, and every one says "absent" for every
      * value. */
    def fileKept(p: Probe): Boolean = rowGroups.isEmpty || rowGroupsKept(p).contains(true)

    /** Per row group: might it hold one of the probe's values by its
      * statistics AND its bloom? Only for a probe of this column's kind. */
    def rowGroupsAdmitted(p: Probe): Seq[Boolean] =
      rowGroupsKept(p).zip(chunks).map { case (bloom, c) => bloom && p.values.exists(c.admits) }
  }

  /** Under the filter's lock: a cached filter is shared by every
    * listing in the JVM, and parquet's `BlockSplitBloomFilter` is not
    * thread-safe even to read — `hash` stages the value in a
    * per-instance buffer and `findHash` builds its probe mask in a
    * per-instance array, so two unlocked probes can answer "absent"
    * for a present key. */
  private def mightContain(bf: BloomFilter, v: Any): Boolean = bf.synchronized {
    v match {
      case i: Int => bf.findHash(bf.hash(i))
      case l: Long => bf.findHash(bf.hash(l))
      case b: Array[Byte] => bf.findHash(bf.hash(Binary.fromConstantByteArray(b)))
      case _ => true
    }
  }

  /** Read the footer and the `cols` blooms of one file, in one open. */
  private[ds] def readBlooms(st: FileStatus, cols: Seq[String], conf: Configuration): Map[String, ColBlooms] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try {
      val footer = r.getFooter
      val schema = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks.asScala.toSeq
      cols.map { c =>
        val field = Option.when(schema.containsField(c))(schema.getType(schema.getFieldIndex(c)))
        val kind = field.filter(_.isPrimitive).map(_.asPrimitiveType).fold('-') { t =>
          val ann = t.getLogicalTypeAnnotation
          def signedInt(width: Int) = ann == null || (ann match {
            case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
              i.isSigned && i.getBitWidth == width
            case _ => false
          })
          t.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT32 if signedInt(32) => 'i'
            case PrimitiveTypeName.INT64 if signedInt(64) => 'l'
            case PrimitiveTypeName.BINARY if ann == null ||
              ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] => 'b'
            case _ => '-'
          }
        }
        if (kind == '-') c -> new ColBlooms(kind, Array.empty, Array.empty)
        else {
          val chunks = blocks.map(b => b -> b.getColumns.asScala.find(_.getPath.toDotString == c))
          c -> new ColBlooms(kind,
            chunks.map(_._2.map(ch => r.readBloomFilter(ch)).orNull).toArray,
            chunks.map { case (b, ch) =>
              val stats = ch.flatMap(x => scala.util.Try(x.getStatistics).toOption).orNull
              val pages = ch.flatMap(x => Option(x.getEncodingStats)).fold(-1) { es =>
                es.getDataEncodings.asScala.toSeq.map(es.getNumDataPagesEncodedAs).sum
              }
              ChunkMeta(b.getStartingPos, b.getCompressedSize, stats, ch.fold(-1L)(_.getValueCount), pages)
            }.toArray)
        }
      }.toMap
    } finally r.close()
  }

  /** The driver's answer for one file: [[Dropped]], [[Whole]] (kept,
    * read as usual) or [[KeptRowGroups]] (kept, and its task reads only
    * those row groups). */
  private[ds] sealed trait Verdict { def kept: Boolean = this != Dropped }
  private[ds] case object Dropped extends Verdict
  private[ds] case object Whole extends Verdict

  /** A kept file's row groups that the statistics and the blooms of
    * the probes on `cols` admit, as (ordinal, start, length) triples,
    * and whether each of their `cols` chunks is one data page (so a
    * column or offset index could skip nothing in them). It travels to
    * the task as the file's constant metadata value under [[Key]]. */
  private[ds] final case class KeptRowGroups(cols: Set[String], groups: Array[Long], onePage: Boolean)
      extends Verdict {
    /** The byte ranges to read of split [start, start + length): the
      * kept row groups whose midpoints fall in it (parquet-mr's rule for
      * which split reads a row group), each run of consecutive ones as
      * one (start, length) range. */
    def ranges(start: Long, length: Long): Seq[(Long, Long)] =
      groups.grouped(3).map(g => (g(0), g(1), g(2)))
        .filter { case (_, s, l) => s + l / 2 >= start && s + l / 2 < start + length }
        .foldLeft(List.empty[(Long, Long, Long)]) { case (acc, (o, s, l)) =>
          acc match {
            case (o0, s0, _) :: rest if o == o0 + 1 => (o, s0, s + l) :: rest
            case _ => (o, s, s + l) :: acc
          }
        }.reverse.map { case (_, s, e) => (s, e - s) }
  }
  private[ds] object KeptRowGroups { val Key = "graft_kept_row_groups" }

  /** The driver-side file test of `probes`, for ONE listing. A file is
    * dropped when some probe's blooms rule it out. A kept file whose
    * blooms were read for a probe of their kind gets [[KeptRowGroups]]:
    * the row groups every such probe admits by statistics and bloom
    * (possibly none). Blooms come from each file's own footer, read once
    * per file version and kept in the [[BloomCacheBytes]] LRU keyed by
    * (qualified path, length, mtime, column), so a write (new names, new
    * stamps) never invalidates anything. At most
    * [[MaxBloomReadsPerListing]] uncached files are read per test; past
    * that, uncached files are kept [[Whole]]. A file that cannot be read
    * is cached as bloom-less (kept whole). No Spark job. */
  private[ds] def fileVerdict(fs: FileSystem, conf: Configuration,
      probes: Seq[Probe]): FileStatus => Verdict = {
    val cols = probes.map(_.col).distinct
    var reads = 0
    st => {
      val prefix = s"${fs.makeQualified(st.getPath)}\u0000${st.getLen}\u0000${st.getModificationTime}\u0000"
      val cached = cols.flatMap(c => Option(bloomCache.get(prefix + c)).map(c -> _)).toMap
      val missing = cols.filterNot(cached.contains)
      val blooms =
        if (missing.isEmpty || reads >= MaxBloomReadsPerListing) cached
        else {
          reads += 1
          val read = try readBlooms(st, missing, conf)
            catch { case scala.util.control.NonFatal(_) =>
              missing.map(_ -> new ColBlooms('-', Array.empty, Array.empty)).toMap }
          read.foreach { case (c, b) => bloomCache.put(prefix + c, b) }
          cached ++ read
        }
      if (!probes.forall(p => blooms.get(p.col).forall(_.fileKept(p)))) Dropped
      else {
        val answered = probes.flatMap(p =>
          blooms.get(p.col).filter(b => b.kind == p.kind && b.chunks.nonEmpty).map(p -> _))
        if (answered.isEmpty) Whole
        else {
          val admitted = answered.map { case (p, b) => b.rowGroupsAdmitted(p) }.transpose.map(_.forall(identity))
          val kept = admitted.indices.filter(admitted)
          val chunks = answered.map(_._2.chunks)
          KeptRowGroups(answered.map(_._1.col).toSet,
            kept.flatMap(i => Seq(i.toLong, chunks.head(i).start, chunks.head(i).length)).toArray,
            kept.forall(i => chunks.forall(_(i).pages == 1)))
        }
      }
    }
  }

  private[ds] val bloomCache = new WeightedLru[ColBlooms](Int.MaxValue, BloomCacheBytes,
    (key, b) => b.bytes + 2L * key.length + 64L)
}
