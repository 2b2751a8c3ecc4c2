package graft.ds

import org.apache.hadoop.fs.{FileSystem, Path}

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
  * original writes paid for — the point-lookup skip layer would decay
  * on exactly the long-lived datasets maintenance serves. A write that
  * declares bloom columns persists the contract beside the data; every
  * rewrite path loads it and re-applies the parquet options, and
  * staged-swap rewrites write the contract into the staged dir so it
  * promotes atomically with its files.
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
    try {
      val p = sidecar(dsPath)
      if (!fs.exists(p)) return Nil
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val lines = text.split('\n').filter(_.nonEmpty)
      if (lines.isEmpty || lines.head != Magic) return Nil
      lines.tail.toSeq.map { ln =>
        ln.split('\t') match {
          case Array(c) => c -> None
          case Array(c, ndv) => c -> Some(ndv.toLong)
        }
      }
    } catch { case scala.util.control.NonFatal(_) => Nil }

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
}
