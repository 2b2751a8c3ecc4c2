package graft.ds
import scala.language.existentials

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.types._

/** File-level statistics index — a `_stats_index` sidecar recording
  * each data file's per-column (min, max) from its parquet footer, so
  * scans can prune the FILE LIST at plan time: the poor man's
  * table-format manifest. What it buys at 100 TB: Spark's parquet
  * reader already skips row groups inside each file it opens, but it
  * still lists, schedules, and footer-reads EVERY file the listing
  * returns. With write-time clustering ([[DatasetWriter.clusterBy]] /
  * [[ZOrder]]) making per-file ranges narrow, a range predicate over a
  * million-file dataset should touch the handful of files whose range
  * overlaps — and the driver can decide that from one small sidecar
  * read, zero footer RPCs, before Spark ever sees the file list.
  *
  * SAFE BY CONSTRUCTION — pruning is an optimization, never a
  * correctness gate:
  *  - a file with no index entry is always kept (writers that don't
  *    maintain the index can never cause wrong answers — their new
  *    files are simply unpruned until [[refresh]]);
  *  - rewrites produce fresh file names (Spark part-UUIDs), so a stale
  *    entry can never describe a live file's content — it just never
  *    matches the listing and is dropped on the next refresh;
  *  - only predicate shapes the compiler understands participate —
  *    comparisons/IN/IS [NOT] NULL under arbitrary AND/OR nesting; an
  *    un-compilable AND side is dropped (widens the kept set), an
  *    un-compilable OR side disables that whole OR, and everything
  *    else is ignored (the full predicate is still applied by the
  *    scan afterwards);
  *  - corrupt sidecars load as absent (same rule as [[BloomIndex]]).
  *
  * Column domains covered: integral (long), floating (double), DATE
  * (epoch days), TIMESTAMP (normalized to micros), and UTF-8 STRING.
  * Cross-domain comparisons (a DATE literal against TIMESTAMP stats)
  * are not attempted: kinds must match exactly.
  *
  * STRING bounds — the trust model, spelled out because footer binary
  * stats may be TRUNCATED:
  *  - The parquet spec requires `min_value`/`max_value` to stay VALID
  *    bounds even when compacted (its own example stores min="B",
  *    max="C" for "Blart Versenwald III") — truncation may widen the
  *    range, never narrow it. parquet-mr's BinaryTruncator increments
  *    the last byte when cutting a max (keeps the full value when it
  *    cannot), arrow/parquet-cpp DROPS oversized stats rather than
  *    truncate, and parquet-mr's reader already suppresses binary
  *    stats from the PARQUET-251 corrupt-sort-order writer era. So a
  *    recorded bound is exactly as trustworthy as the numeric stats
  *    this index already relies on; pruning needs validity, not
  *    exactness (the `is_*_value_exact` footer flags matter only to
  *    consumers using the bound AS a value, e.g. min/max pushdown).
  *  - The MIN side is one-sidedly robust even to a SPEC-VIOLATING
  *    naive prefix cut: a byte prefix always sorts <= the original,
  *    so it stays a valid lower bound no matter what the writer did.
  *  - Bounds live as RAW UTF-8 BYTES end to end (base64 in the
  *    sidecar) and compare UNSIGNED — never decoded to String: a
  *    truncated bound can cut mid-codepoint, and decoding would swap
  *    in U+FFFD bytes that break the ordering. Unsigned byte order is
  *    parquet's UTF8 sort order AND Spark's default (binary
  *    collation) string comparison, so range logic matches the
  *    engine's own semantics. Literals of non-default COLLATED string
  *    types are not extracted at all (their dataType is not the
  *    `StringType` singleton) → collations degrade to no-pruning. */
object StatsIndex {
  val FileName = "_stats_index"
  /** Segment directory beside the root sidecar (hidden from Spark and
    * from [[GraftDataset.dataFiles]] by the leading underscore). Each
    * maintained write appends ONE `seg-*` file holding only that
    * write's new-file entries; the effective index is root ∪ segments.
    * This is what makes [[maintain]] O(new files) instead of
    * O(total files): the monolithic-root rewrite per ingest batch was
    * the one remaining whole-dataset driver cost on the write path. */
  val SegDirName = "_stats_index.d"
  /** Segment count that triggers folding everything back into the
    * root (inside the write that crossed the threshold). Keeps the
    * read side bounded at ≤ CompactAt+1 sidecar reads while amortizing
    * the O(total-files) fold to 1/CompactAt per write. */
  private[ds] val CompactAt = 16
  private val Magic = "graft-stats-v1"

  /** One column's file-level range. `kind`: "l" integral, "d" double,
    * "date" epoch-day, "ts" epoch-micros, "s" UTF-8 string. BigDecimal
    * keeps long comparisons exact past 2^53 (a double roundtrip there
    * could wrongly prune a boundary file). Kind "s" carries its bounds
    * in `smin`/`smax` as raw UTF-8 bytes (numeric fields null) — see
    * the STRING trust-model note above. `nulls` = the file's null
    * count for this column, or -1 when any row group left it unset. */
  final case class ColRange(kind: String, min: BigDecimal, max: BigDecimal,
      nulls: Long = -1L, smin: Array[Byte] = null, smax: Array[Byte] = null) {
    def overlaps(op: String, v: BigDecimal): Boolean = op match {
      case ">"  => max > v
      case ">=" => max >= v
      case "<"  => min < v
      case "<=" => min <= v
      case "="  => min <= v && v <= max
    }
    /** Same keep/prune algebra at unsigned byte order. Identical
      * safety argument as the numeric form given VALID (possibly
      * widened) bounds: prune `>` iff smax <= v, `<` iff smin >= v,
      * `=` iff v outside [smin, smax]. */
    def overlapsStr(op: String, v: Array[Byte]): Boolean = {
      def c(a: Array[Byte], b: Array[Byte]) = java.util.Arrays.compareUnsigned(a, b)
      op match {
        case ">"  => c(smax, v) > 0
        case ">=" => c(smax, v) >= 0
        case "<"  => c(smin, v) < 0
        case "<=" => c(smin, v) <= 0
        case "="  => c(smin, v) <= 0 && c(v, smax) <= 0
      }
    }
  }

  /** rel-file-path → (column → range). Files absent from the map are
    * never pruned. */
  final case class Index(cols: Seq[String], files: Map[String, Map[String, ColRange]])

  def sidecar(dsPath: String): Path = new Path(dsPath, FileName)
  def segDir(dsPath: String): Path = new Path(dsPath, SegDirName)

  /** Effective index: the root sidecar plus every segment, merged.
    * Root absent/corrupt → None (segments alone carry no authority —
    * they are deltas against a base that must exist). A corrupt
    * SEGMENT is skipped: its files simply have no entries → never
    * pruned, the same degradation rule as everywhere else. */
  def load(fs: FileSystem, dsPath: String): Option[Index] =
    loadWith(fs, dsPath, cached = false)

  /** [[load]] through the driver's (mtime, length)-keyed
    * [[ParsedSidecars]] cache: an unchanged sidecar file costs one
    * `getFileStatus` RPC instead of a full read + parse. This is the per-SCAN path
    * ([[AutoPrune]]'s `listFiles`, [[GraftDataset.pruned]]) — a query
    * storm over one dataset re-validates cheap metadata rather than
    * re-reading a million-entry index per query. Writes invalidate
    * naturally: segments get fresh names, a root promote changes
    * (mtime, length). */
  def loadCached(fs: FileSystem, dsPath: String): Option[Index] =
    loadWith(fs, dsPath, cached = true)

  private def loadWith(fs: FileSystem, dsPath: String, cached: Boolean): Option[Index] =
    fragments.read(fs, sidecar(dsPath), cached).map { root =>
      val segs = listSegments(fs, dsPath)
      if (segs.isEmpty) root
      else Index(root.cols, segs.foldLeft(root.files) { (acc, seg) =>
        fragments.read(fs, seg, cached).fold(acc)(acc ++ _.files)
      })
    }

  /** Segment files, oldest first (names sort by creation order; later
    * entries win the merge, though rewrites minting fresh data-file
    * names make key collisions impossible in practice). */
  private def listSegments(fs: FileSystem, dsPath: String): Seq[Path] =
    try {
      val d = segDir(dsPath)
      if (!fs.exists(d)) Nil
      else fs.listStatus(d).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("seg-"))
        .map(_.getPath).sortBy(_.getName)
    } catch { case scala.util.control.NonFatal(_) => Nil }

  private val fragments = new ParsedSidecars(parse)

  private def parse(text: String): Option[Index] =
    try {
      val lines = text.split('\n').filter(_.nonEmpty)
      val header = lines.head.split('\t')
      if (header.length != 2 || header(0) != Magic) return None
      val cols = header(1).split(',').toSeq.filter(_.nonEmpty)
      // kind "s" bounds are base64 raw bytes, kind "nulls" (all-null
      // marker) has no bounds, everything else decimal text; a
      // malformed field throws → NonFatal → sidecar absent
      def range(kind: String, mn: String, mx: String, nulls: Long): ColRange =
        if (kind == "s") {
          val dec = java.util.Base64.getDecoder
          ColRange("s", null, null, nulls, dec.decode(mn), dec.decode(mx))
        } else if (kind == "nulls") ColRange("nulls", null, null, nulls)
        else ColRange(kind, BigDecimal(mn), BigDecimal(mx), nulls)
      val files = lines.tail.map { ln =>
        // 5-field lines are the pre-null-count format — parse them with
        // nulls unknown (-1) rather than invalidating every sidecar
        // built before the field existed (a failed load would silently
        // kill maintenance forever: maintain() no-ops on None)
        ln.split('\t') match {
          case Array(rel, c, kind, mn, mx) =>
            (rel, c, range(kind, mn, mx, -1L))
          case Array(rel, c, kind, mn, mx, nulls) =>
            (rel, c, range(kind, mn, mx, nulls.toLong))
        }
      }.groupBy(_._1).map { case (rel, rows) =>
        // "none" tombstone: a memoized stats-less file (footer had no
        // usable ranges) — known, never pruned, never re-read
        rel -> rows.filter(_._3.kind != "none").map(r => r._2 -> r._3).toMap
      }
      Some(Index(cols, files))
    } catch { case scala.util.control.NonFatal(_) => None }

  private def render(idx: Index): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(Magic).append('\t').append(idx.cols.mkString(",")).append('\n')
    idx.files.toSeq.sortBy(_._1).foreach { case (rel, byCol) =>
      if (byCol.isEmpty) // tombstone — see parse()
        sb.append(rel).append("\t-\tnone\t0\t0\t-1\n")
      else byCol.toSeq.sortBy(_._1).foreach { case (c, r) =>
        val enc = java.util.Base64.getEncoder
        val (mn, mx) =
          if (r.kind == "s") (enc.encodeToString(r.smin), enc.encodeToString(r.smax))
          else if (r.kind == "nulls") ("0", "0")
          else (r.min.toString, r.max.toString)
        sb.append(rel).append('\t').append(c).append('\t').append(r.kind)
          .append('\t').append(mn).append('\t').append(mx)
          .append('\t').append(r.nulls).append('\n')
      }
    }
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Promote `idx` as the COMPLETE index: stage + rename the root
    * (same durability rule as [[BloomIndex.write]]), then drop every
    * segment — their entries are either folded into `idx` or
    * deliberately discarded by a rebuild. */
  def write(fs: FileSystem, dsPath: String, idx: Index): Unit = {
    Sidecars.atomicWrite(fs, sidecar(dsPath), render(idx), "stats index")
    fs.delete(segDir(dsPath), true); ()
  }

  /** Append one segment holding only `files`' entries. Fresh unique
    * name (no reader ever sees a half-written segment thanks to the
    * same stage + rename); the monotonic name component keeps merge
    * order stable. */
  private def writeSegment(fs: FileSystem, dsPath: String,
      cols: Seq[String], files: Map[String, Map[String, ColRange]]): Unit = {
    val d = segDir(dsPath)
    fs.mkdirs(d)
    val name = f"seg-${System.currentTimeMillis()}%013d-${java.util.UUID.randomUUID().toString.take(8)}"
    Sidecars.atomicWrite(fs, new Path(d, name), render(Index(cols, files)),
      "stats index segment")
  }

  def delete(fs: FileSystem, dsPath: String): Boolean = {
    fs.delete(segDir(dsPath), true)
    fs.delete(sidecar(dsPath), false)
  }

  /** Footer → per-column file range. Returns only columns whose every
    * row group carries usable stats (a single stats-less group makes
    * the file's true range unknown → the column is omitted → the file
    * is never pruned on it). Exceptions (file vanished under a
    * concurrent rewrite) yield an empty map — unpruned, not fatal. */
  private def footerRanges(f: String, cols: Set[String],
      hconf: org.apache.hadoop.conf.Configuration): Map[String, ColRange] =
    try {
      import scala.jdk.CollectionConverters._
      val blocks = graft.sources.ParquetMeta.footer(f, hconf).getBlocks.asScala.toSeq
      cols.flatMap { c =>
        val perBlock = blocks.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == c).flatMap { ch =>
            val s = ch.getStatistics
            if (s == null || s.isEmpty) None
            else if (!s.hasNonNullValue) {
              // PROVABLY all-null block (stats present, null count
              // known, zero values): an "all-null marker" range. At
              // file level this prunes IS NOT NULL and every
              // comparison/IN (NULL never satisfies them) — distinct
              // from stats-ABSENT (None → column unknown → kept)
              if (s.isNumNullsSet) Some(ColRange("nulls", null, null, s.getNumNulls))
              else None
            } else {
              val ann = String.valueOf(ch.getPrimitiveType.getLogicalTypeAnnotation)
              val prim = ch.getPrimitiveType.getPrimitiveTypeName.name
              def asBD(v: AnyRef): Option[(String, BigDecimal)] = (v, prim) match {
                // DECIMAL stores the UNSCALED value in INT32/INT64 —
                // letting it through as kind "l" would compare scaled
                // literals against unscaled stats and wrongly prune
                case _ if ann.contains("DECIMAL") => None
                // UNSIGNED ints (INT(32,false) etc.) surface their
                // stats as sign-wrapped raw values while Spark reads
                // the column as the positive logical value — same
                // raw-vs-logical mismatch, same exclusion
                case _ if ann.startsWith("INT(") && ann.contains("false") => None
                case (i: Integer, _) if ann.contains("DATE") => Some(("date", BigDecimal(i.toLong)))
                case (l: java.lang.Long, _) if ann.contains("TIMESTAMP") =>
                  val micros =
                    if (ann.contains("NANOS")) l / 1000L
                    else if (ann.contains("MILLIS")) l * 1000L
                    else l.longValue()
                  Some(("ts", BigDecimal(micros)))
                case (i: Integer, "INT32") => Some(("l", BigDecimal(i.toLong)))
                case (l: java.lang.Long, "INT64") => Some(("l", BigDecimal(l.longValue())))
                case (fl: java.lang.Float, _) => Some(("d", BigDecimal(fl.toDouble)))
                case (d: java.lang.Double, _) => Some(("d", BigDecimal(d.doubleValue())))
                case _ => None // non-string binary/bool/byte-array decimal: out of scope
              }
              val blkNulls = if (s.isNumNullsSet) s.getNumNulls else -1L
              // STRING annotation exactly (ENUM/JSON/BSON are binary
              // too but carry no string comparison contract): bounds
              // taken as raw bytes — possibly spec-truncated, still
              // valid bounds (see trust-model note in the header)
              if (prim == "BINARY" && ann == "STRING")
                (s.genericGetMin.asInstanceOf[AnyRef],
                  s.genericGetMax.asInstanceOf[AnyRef]) match {
                  case (mn: org.apache.parquet.io.api.Binary,
                        mx: org.apache.parquet.io.api.Binary) =>
                    Some(ColRange("s", null, null, blkNulls, mn.getBytes, mx.getBytes))
                  case _ => None
                }
              else for {
                (k1, mn) <- asBD(s.genericGetMin.asInstanceOf[AnyRef])
                (_, mx) <- asBD(s.genericGetMax.asInstanceOf[AnyRef])
                // per-block null count from the SAME chunk lookup
                // (a second getColumns.find per block would double
                // the footer walk on the distributed build path)
              } yield ColRange(k1, mn, mx, blkNulls)
            }
          }
        }
        if (perBlock.exists(_.isEmpty)) None
        else {
          val rs = perBlock.flatten
          // file-level null count: exact only when EVERY row group
          // recorded one; -1 (unknown) disables isNull pruning
          val nulls =
            if (rs.exists(_.nulls < 0)) -1L else rs.map(_.nulls).sum
          // all-null marker blocks contribute only their null count;
          // the value bounds come from the blocks that HAVE values.
          // Every block a marker → the whole file is all-null for c.
          val vals = rs.filter(_.kind != "nulls")
          if (vals.isEmpty)
            Some(c -> ColRange("nulls", null, null, nulls))
          else if (vals.head.kind == "s") {
            def cu(a: Array[Byte], b: Array[Byte]) = java.util.Arrays.compareUnsigned(a, b)
            Some(c -> ColRange("s", null, null, nulls,
              vals.map(_.smin).reduce((a, b) => if (cu(a, b) <= 0) a else b),
              vals.map(_.smax).reduce((a, b) => if (cu(a, b) >= 0) a else b)))
          } else
            Some(c -> ColRange(vals.head.kind, vals.map(_.min).min, vals.map(_.max).max, nulls))
        }
      }.toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  private def relOf(fs: FileSystem, root: String, file: String): String = {
    val qr = fs.makeQualified(new Path(root)).toString
    fs.makeQualified(new Path(file)).toString.stripPrefix(qr + "/")
  }

  /** Build the index over the dataset's current files: distributed
    * footer reads above 64 files (one task per footer — the same scale
    * rule as schema unification), driver-side below. */
  def build(spark: SparkSession, ds: GraftDataset, cols: Seq[String]): Index =
    buildFrom(spark, ds, cols, ds.dataFiles(spark), Map.empty)

  /** Incremental refresh: reuse recorded entries for files still
    * present (rewrites always mint new names, so name identity is
    * content identity here), footer-read only the new files, drop
    * entries for vanished ones. O(new files) footer IO — the shape a
    * per-ingest-batch maintenance hook needs. */
  def refresh(spark: SparkSession, ds: GraftDataset): Index = {
    val fs = ds.fs(spark)
    val prior = load(fs, ds.path).getOrElse(
      throw new IllegalStateException(s"stats index: nothing to refresh at ${ds.path}"))
    buildFrom(spark, ds, prior.cols, ds.dataFiles(spark), prior.files)
  }

  /** Writer hook: refresh IF a sidecar exists, else no-op. Called at
    * the end of every mutation (inside the dataset lock): by
    * [[DatasetWriter]] after a write or append, and by
    * [[Commit.rewrite]] after a partition-scoped rewrite (upsert,
    * delete, compaction), so an index a user built once stays fresh
    * across ingest without the advisory "files unpruned until refresh"
    * window. A root rewrite rebuilds the index instead.
    *
    * Cost shape, the point of the segment layout: O(new files) footer
    * IO + ONE segment write — the root (O(total files)) is untouched.
    * Every [[CompactAt]]-th maintained write instead folds root +
    * segments + fresh entries into a new root (dropping entries whose
    * files vanished under rewrites), so segment count stays bounded
    * and the fold amortizes to 1/CompactAt of a full rewrite per
    * ingest batch. A no-change write (no unseen files) writes
    * nothing at all. */
  def maintain(spark: SparkSession, ds: GraftDataset): Unit = {
    val fs = ds.fs(spark)
    loadCached(fs, ds.path).foreach { prior =>
      val rels = ds.dataFiles(spark).map(f => f -> relOf(fs, ds.path, f))
      val need = rels.filterNot { case (_, rel) => prior.files.contains(rel) }
      if (need.nonEmpty) {
        val fresh = scanRanges(spark, prior.cols.toSet, need)
        if (listSegments(fs, ds.path).size + 1 >= CompactAt) {
          // fold: live files only — stale entries (rewritten/deleted
          // files) exit the index here, exactly as a full refresh would
          val live = rels.map(_._2).toSet
          write(fs, ds.path, Index(prior.cols,
            (prior.files ++ fresh).filter { case (rel, _) => live.contains(rel) }))
        } else writeSegment(fs, ds.path, prior.cols, fresh.toMap)
      }
    }
  }

  private def buildFrom(spark: SparkSession, ds: GraftDataset, cols: Seq[String],
      files: Seq[String], known: Map[String, Map[String, ColRange]]): Index = {
    val fs = ds.fs(spark)
    val rels = files.map(f => f -> relOf(fs, ds.path, f))
    val (have, need) = rels.partition { case (_, rel) => known.contains(rel) }
    val fresh = scanRanges(spark, cols.toSet, need)
    val idx = Index(cols,
      (have.map { case (_, rel) => rel -> known(rel) } ++ fresh).toMap)
    write(fs, ds.path, idx)
    idx
  }

  /** Footer-scan `need` (full-path, rel-path pairs) through
    * [[graft.sources.ParquetMeta.overFooters]], the same fan-out rule as
    * schema unification. Stats-less files keep their
    * EMPTY entry (serialized as a "none" tombstone): still never
    * pruned, but memoized — without it every maintain() would re-open
    * their footers forever, the exact per-file RPC fan-out this index
    * exists to avoid. */
  private def scanRanges(spark: SparkSession, colSet: Set[String],
      need: Seq[(String, String)]): Seq[(String, Map[String, ColRange])] =
    graft.sources.ParquetMeta.overFooters(spark, need) { case ((f, rel), conf) =>
      rel -> footerRanges(f, colSet, conf)
    }

  /** An extracted literal: numeric kinds carry `num`, kind "s" carries
    * raw UTF-8 bytes in `str`. */
  private[ds] final case class Bound(kind: String, num: BigDecimal, str: Array[Byte] = null)

  /** A compiled "might this file match?" test over one file's recorded
    * ranges. Compiled ONCE per predicate, applied per file — a
    * million-file listing pays closure calls, not expression walks. */
  private[ds] type FileTest = Map[String, ColRange] => Boolean

  /** Compile the predicate into a [[FileTest]], or None when nothing
    * in it is actionable (→ no pruning). The boolean algebra of
    * conservatism:
    *  - AND may drop an un-compilable side (restricting to fewer
    *    conjuncts only widens the kept set);
    *  - OR requires BOTH sides compiled — one unknown disjunct makes
    *    the whole OR satisfiable by any file. With both sides known,
    *    disjunctive predicates (`day < a OR day > b`, q19-style
    *    multi-branch filters) prune every file outside ALL branches;
    *  - leaves answer `true` on missing entries / kind mismatches,
    *    `false` only on a proven-impossible range. An all-null marker
    *    (kind "nulls") fails every comparison/IN and IS NOT NULL —
    *    SQL NULL satisfies none of them — while IS NULL keeps it;
    *  - NOT is not compiled (negation of a conservative answer is not
    *    conservative); a NOT anywhere simply degrades that subtree. */
  private[ds] def compile(e: Expression): Option[FileTest] = {
    def attr(x: Expression): Option[String] = x match {
      case a: AttributeReference => Some(a.name)
      // single-part names ONLY: a struct-field or table-qualified
      // reference (col("meta.ts") → ["meta","ts"]) must not alias a
      // TOP-LEVEL column's stats — taking nameParts.last there would
      // prune on an unrelated column's ranges
      case u: UnresolvedAttribute if u.nameParts.lengthCompare(1) == 0 =>
        Some(u.nameParts.head)
      case _ => None
    }
    def value(x: Expression): Option[Bound] = x match {
      case Literal(null, _) => None
      case Literal(v: Byte, _) => Some(Bound("l", BigDecimal(v.toLong)))
      case Literal(v: Short, _) => Some(Bound("l", BigDecimal(v.toLong)))
      case Literal(v: Int, DateType) => Some(Bound("date", BigDecimal(v.toLong)))
      case Literal(v: Int, _) => Some(Bound("l", BigDecimal(v.toLong)))
      case Literal(v: Long, TimestampType) => Some(Bound("ts", BigDecimal(v)))
      // NTZ literals are micros too (tz-naive parquet columns — the
      // common lake shape — read as TIMESTAMP_NTZ in Spark 4, and their
      // footers annotate TIMESTAMP(MICROS,false) → kind "ts"). In a
      // RESOLVED plan a bare attribute only compares against a literal
      // of its own type (a cross-type comparison casts the COLUMN,
      // which stops attr() extraction), so ntz-vs-ntz never involves a
      // timezone; the unresolved Column path conflates LTZ/NTZ micros
      // by design — every graft entry point pins the session to UTC,
      // where the two domains coincide
      case Literal(v: Long, TimestampNTZType) => Some(Bound("ts", BigDecimal(v)))
      case Literal(v: Long, _) => Some(Bound("l", BigDecimal(v)))
      // NaN/Infinity have no BigDecimal form (and NaN's SQL comparison
      // semantics don't map to a range anyway) — unextractable, which
      // degrades to "no pruning", never a crash
      case Literal(v: Float, _) if !v.isNaN && !v.isInfinite => Some(Bound("d", BigDecimal(v.toDouble)))
      case Literal(v: Double, _) if !v.isNaN && !v.isInfinite => Some(Bound("d", BigDecimal(v)))
      // DEFAULT StringType only (the singleton == binary collation):
      // a collated literal compares under collation rules that byte
      // ranges cannot answer, so it must not extract. UTF8String's
      // bytes ARE the comparison domain — no String decode roundtrip
      // (it would mangle bounds cut mid-codepoint)
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) if v != null =>
        Some(Bound("s", null, v.getBytes))
      case Literal(v: String, StringType) =>
        Some(Bound("s", null, v.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      case _ => None
    }
    def flip(op: String): String = op match {
      case ">" => "<" case ">=" => "<=" case "<" => ">" case "<=" => ">=" case o => o
    }
    def cmpTest(c: String, op: String, b: Bound): FileTest = byCol =>
      byCol.get(c) match {
        case Some(r) if r.kind == "nulls" => false // all-null: no comparison matches
        case Some(r) if r.kind == b.kind =>
          if (b.kind == "s") r.overlapsStr(op, b.str) else r.overlaps(op, b.num)
        case _ => true
      }
    def cmp(op: String, l: Expression, r: Expression): Option[FileTest] =
      (attr(l), value(r), attr(r), value(l)) match {
        case (Some(a), Some(b), _, _) => Some(cmpTest(a, op, b))
        case (_, _, Some(a), Some(b)) => Some(cmpTest(a, flip(op), b))
        case _ => None
      }
    def inSet(target: Expression, items: Seq[Expression]): Option[FileTest] =
      attr(target).flatMap { a =>
        val vs = items.map(value)
        // every list element must extract at ONE kind — a partially
        // understood IN could wrongly prune the files holding the
        // values we failed to read
        if (vs.nonEmpty && vs.forall(_.isDefined) &&
            vs.flatten.map(_.kind).distinct.sizeIs == 1) {
          val kind = vs.flatten.head.kind
          val bs = vs.flatten
          Some((byCol: Map[String, ColRange]) => byCol.get(a) match {
            case Some(r) if r.kind == "nulls" => false
            case Some(r) if r.kind == kind => bs.exists(b =>
              if (kind == "s") r.overlapsStr("=", b.str) else r.overlaps("=", b.num))
            case _ => true
          })
        } else None
      }
    def isNullTest(c: String): FileTest = byCol => byCol.get(c) match {
      // recorded zero nulls → no NULL row can exist in the file;
      // -1 (unknown) keeps it; the all-null marker keeps it too
      case Some(r) => r.nulls != 0L
      case _ => true
    }
    def isNotNullTest(c: String): FileTest = byCol => byCol.get(c) match {
      case Some(r) if r.kind == "nulls" => false // provably all-null
      case _ => true
    }
    def both(a: Option[FileTest], b: Option[FileTest]): Option[FileTest] = (a, b) match {
      case (Some(f), Some(g)) => Some(m => f(m) && g(m))
      case (x, None) => x
      case (None, y) => y
    }
    def either(a: Option[FileTest], b: Option[FileTest]): Option[FileTest] =
      for { f <- a; g <- b } yield (m: Map[String, ColRange]) => f(m) || g(m)
    Shape.of(e) match {
      case Some(Shape.Conj(a, b)) => both(compile(a), compile(b))
      case Some(Shape.Disj(a, b)) => either(compile(a), compile(b))
      case Some(Shape.Cmp(op, l, r)) => cmp(op, l, r)
      case Some(Shape.InList(t, items)) => inSet(t, items)
      case Some(Shape.NullCheck(t, true)) => attr(t).map(isNullTest)
      case Some(Shape.NullCheck(t, false)) => attr(t).map(isNotNullTest)
      case None => None
    }
  }

  /** The predicate shapes the driver's file tests read — [[compile]]'s
    * range tests and [[RowGroupBloom.probes]]' bloom probes — one
    * normal form over their three spellings: resolved Catalyst nodes,
    * Catalyst's `InSet` (its value set as literals of the target's
    * type), and the classic Column API's UnresolvedFunction nodes
    * named after the operator ('and('>=('id, 100), ...)). A new
    * spelling is taught here once. Operand order is kept: `Cmp` may
    * hold the literal on either side. */
  private[ds] sealed trait Shape
  private[ds] object Shape {
    final case class Conj(l: Expression, r: Expression) extends Shape
    final case class Disj(l: Expression, r: Expression) extends Shape
    /** `op` is one of = > >= < <= */
    final case class Cmp(op: String, l: Expression, r: Expression) extends Shape
    final case class InList(target: Expression, items: Seq[Expression]) extends Shape
    final case class NullCheck(target: Expression, isNull: Boolean) extends Shape

    def of(e: Expression): Option[Shape] = e match {
      case f: UnresolvedFunction if f.nameParts.lengthCompare(1) == 0 =>
        (f.nameParts.head.toLowerCase, f.arguments) match {
          case ("and", Seq(l, r)) => Some(Conj(l, r))
          case ("or", Seq(l, r)) => Some(Disj(l, r))
          case ("=" | "==", Seq(l, r)) => Some(Cmp("=", l, r))
          case (op @ (">" | ">=" | "<" | "<="), Seq(l, r)) => Some(Cmp(op, l, r))
          case ("in", t +: items) => Some(InList(t, items))
          case ("isnull", Seq(t)) => Some(NullCheck(t, isNull = true))
          case ("isnotnull", Seq(t)) => Some(NullCheck(t, isNull = false))
          case _ => None
        }
      case And(l, r) => Some(Conj(l, r))
      case Or(l, r) => Some(Disj(l, r))
      case EqualTo(l, r) => Some(Cmp("=", l, r))
      case GreaterThan(l, r) => Some(Cmp(">", l, r))
      case GreaterThanOrEqual(l, r) => Some(Cmp(">=", l, r))
      case LessThan(l, r) => Some(Cmp("<", l, r))
      case LessThanOrEqual(l, r) => Some(Cmp("<=", l, r))
      case In(t, items) => Some(InList(t, items))
      case InSet(t, hset) => Some(InList(t, hset.toSeq.map(Literal(_, t.dataType))))
      case IsNull(t) => Some(NullCheck(t, isNull = true))
      case IsNotNull(t) => Some(NullCheck(t, isNull = false))
      case _ => None
    }
  }

  /** Column → catalyst Expression. Spark 4 removed `Column.expr` and
    * made the classic converter `private[sql]`, so this is ONE
    * reflective call fed by the public `Column.node` accessor. Failure
    * (a future Spark moving the class) degrades to None → zero
    * extracted constraints → zero pruning — never a wrong answer. */
  private[ds] def toExpression(c: Column): Option[Expression] =
    try {
      val cls = Class.forName("org.apache.spark.sql.classic.ColumnNodeToExpressionConverter$")
      val mod = cls.getField("MODULE$").get(null)
      val m = cls.getMethod("apply", Class.forName("org.apache.spark.sql.internal.ColumnNode"))
      Some(m.invoke(mod, c.node).asInstanceOf[Expression])
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The subset of `files` that can hold rows matching `predicate`.
    * Kept when: no index entry, no recorded range for a constrained
    * column, kind mismatch, or the compiled test says the file's
    * ranges could satisfy the predicate. */
  def prunedFiles(fs: FileSystem, dsPath: String, idx: Index,
      files: Seq[String], predicate: Column): Seq[String] =
    toExpression(predicate).flatMap(e => fileTest(fs, dsPath, idx, Seq(e))) match {
      case None => files
      case Some(test) => files.filter(f => test(new Path(f)))
    }

  /** The file test of conjuncts `filters` over `idx`: a file survives
    * unless it has an entry some compiled filter rules out. None when
    * no filter compiles. */
  private[ds] def fileTest(fs: FileSystem, dsPath: String, idx: Index,
      filters: Seq[Expression]): Option[Path => Boolean] = {
    val tests = filters.flatMap(compile)
    if (tests.isEmpty) None
    else {
      // qualify the root ONCE — per-file re-qualification is O(files)
      // redundant Path construction on exactly the million-file
      // listings this index exists to serve
      val qr = fs.makeQualified(new Path(dsPath)).toString + "/"
      Some(f => idx.files.get(fs.makeQualified(f).toString.stripPrefix(qr))
        .forall(byCol => tests.forall(t => t(byCol))))
    }
  }
}
