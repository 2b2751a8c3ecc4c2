package graft.ds

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Persistent bloom index over a dataset's delta-key columns — the
  * `_bloom_index` sidecar file beside the data. What it buys at 100 TB:
  * a delta (idempotent-append) write normally pays an existing-side
  * scan + anti-join shuffle even when the incoming batch is entirely
  * new keys — the common shape of live ingest. With the sidecar, every
  * batch row probes the filter map-side (codegen'd
  * [[graft.plans.BloomMightContain]], one `mightContainLong` per row):
  * definitely-new rows append WITHOUT touching the existing dataset,
  * and only possible-duplicates (true matches + the fpp of false
  * positives) go through the exact anti-join. An all-new batch costs
  * O(batch) — zero existing-side IO, zero shuffle. A batch that
  * overlaps pays one scan of the existing key column plus the anti-join
  * (no aggregate over existing keys), and its diff is evaluated once,
  * by the write: the write job observes the diff's row count (the
  * emptiness gate), and the sidecar merge reads only the key columns
  * of the files it staged.
  *
  * Correctness contract: the filter must remain a SUPERSET of the
  * dataset's live keys. False positives only cost an anti-join probe;
  * a missed key would break delta idempotency (duplicate rows). The
  * superset invariant holds because
  *  - [[DatasetWriter]] merges every written batch's keys into the
  *    sidecar under the dataset lock (append/delta/upsert), before the
  *    data commits, and rebuilds it on overwrite. An append or delta
  *    merges the keys of the files it staged (a delta's diff, not its
  *    whole batch), so `inserted` advances by the rows that land and a
  *    non-deterministic input cannot write a key the filter missed; an
  *    upsert merges from a
  *    persisted key projection of its batch, never a re-scan of the
  *    full-width rows;
  *  - key-preserving rewrites (compact, repartition, schema-unify)
  *    never add keys — a lost sidecar (root swap) just disables the
  *    fast path until the next overwrite/build, never corrupts it;
  *  - writes that bypass graft entirely are outside the contract —
  *    documented: delete the sidecar (or rebuild) after foreign writes.
  *
  * Capacity: the filter is sized at creation (`expectedItems`, `fpp`)
  * and batch merges reuse the SAME parameters (Spark bloom merge
  * requires identical layout). Past ~expectedItems inserted keys the
  * real fpp degrades — more false positives, never wrong results. The
  * sidecar header therefore carries a running OCCUPANCY estimate:
  * `inserted` counts rows absorbed by build + every merge (an upper
  * bound on distinct keys — duplicate-keyed rows overcount, which only
  * rebuilds earlier), and `deleted` counts rows removed by
  * [[DatasetDelete]] (their keys linger as false positives until a
  * rebuild). When `inserted + deleted > expectedItems` the maintained
  * writers auto-[[build]] at the end of their mutation — inside the
  * lock they already hold, resized to 4× the then-live rows, so the
  * budget grows geometrically and the rebuild cost amortizes to O(1)
  * per ingested row. Without this the fast path decays silently into
  * "anti-join everything" under exactly the continuous-ingest regime
  * the index exists for. */
object BloomIndex {
  val FileName = "_bloom_index"
  private val Magic = "graft-bloom-v1"
  val DefaultFpp = 0.01

  /** Hard ceiling on the serialized filter (256 MB ≈ 2.1 G bits ≈ 220M
    * keys at fpp 0.01). The filter is a SINGLE driver-held object whose
    * bytes ride the probe expression into every task and the sidecar
    * file whole — unbounded, a 10B-row dataset would demand a ~12 GB
    * filter (driver OOM, GB-scale task broadcast, GB sidecar read per
    * write). Past the ceiling the bloom layer SWITCHES OFF loudly
    * (build returns None and removes any stale sidecar — never a
    * silently undersized filter, which would degrade fpp toward 1
    * exactly when the dataset is biggest): deltas fall back to the
    * stats-pruned exact anti-join, and point-lookup skipping stays with
    * the per-file parquet row-group blooms, which scale with file
    * count. Datasets that need key-level skipping beyond the ceiling
    * should partition and run per-partition deltas — each partition's
    * filter then fits. */
  val DefaultMaxFilterBytes: Long = 256L * 1024 * 1024

  final case class Index(cols: Seq[String], expectedItems: Long, fpp: Double,
      bytes: Array[Byte], inserted: Long = 0L, deleted: Long = 0L) {
    @transient lazy val bloom: BloomFilter =
      BloomFilter.readFrom(new ByteArrayInputStream(bytes))
  }

  /** Occupancy past budget — the maintained-write rebuild trigger. */
  def needsRebuild(idx: Index): Boolean =
    idx.inserted + idx.deleted > idx.expectedItems

  def sidecar(dsPath: String): Path = new Path(dsPath, FileName)

  /** One 64-bit hash over the key tuple — same function on the build
    * and probe side (xxhash64 hashes nulls deterministically, so
    * null-keyed rows probe consistently too). */
  def keyHash(cols: Seq[String]): Column = xxhash64(cols.map(col): _*)

  /** Load the sidecar, treating ANY corruption (truncated header or
    * filter bytes — e.g. a crash mid-write on an FS without the atomic
    * rename below) as ABSENT: the fast path switches off and the next
    * maintained write rebuilds; a throwing load would brick every
    * subsequent write on the dataset instead. */
  def load(fs: FileSystem, dsPath: String): Option[Index] = {
    val p = sidecar(dsPath)
    try {
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val all = try in.readAllBytes() finally in.close()
      val nl = all.indexOf('\n'.toByte)
      if (nl < 0) return None
      val header = new String(all, 0, nl, java.nio.charset.StandardCharsets.UTF_8).split('\t')
      if ((header.length != 4 && header.length != 6) || header(0) != Magic) return None
      val expected = header(2).toLong
      // 4-field headers predate occupancy tracking: reconstruct the
      // build-time estimate from the sizing rule then in force
      // (expectedItems = 4× rows at build) rather than starting at 0,
      // which would delay the first rebuild by a full extra budget
      val (ins, del) =
        if (header.length == 6) (header(4).toLong, header(5).toLong)
        else (expected / 4, 0L)
      val idx = Index(header(1).split(',').toSeq.filter(_.nonEmpty),
        expected, header(3).toDouble,
        java.util.Arrays.copyOfRange(all, nl + 1, all.length), ins, del)
      idx.bloom // validate the filter payload deserializes (lazy-cached for use)
      Some(idx)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Stage + rename so readers never see a half-written sidecar. The
    * delete→rename pair is not atomic on every FS — the worst case is a
    * brief window with NO sidecar (fast path off), never a corrupt one. */
  def write(fs: FileSystem, dsPath: String, idx: Index): Unit = {
    val header = (Seq(Magic, idx.cols.mkString(","), idx.expectedItems.toString,
      idx.fpp.toString, idx.inserted.toString, idx.deleted.toString).mkString("\t") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Sidecars.atomicWrite(fs, sidecar(dsPath), header ++ idx.bytes, "bloom index")
  }

  def delete(fs: FileSystem, dsPath: String): Boolean =
    fs.delete(sidecar(dsPath), false)

  private def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** [[keyHash]] over `df`'s rows, with a key column `df` lacks hashed
    * as a typed null in place: a schema-divergent batch (the
    * unify-rewrite flows exist precisely for heterogeneous file
    * schemas) reads back as NULL there, so its rows' key hash is the
    * null-tuple hash. Absorbing exactly that hash keeps the filter a
    * superset; failing resolution instead would abort an append and
    * leave live keys out of the filter. */
  private def keyHashOf(df: DataFrame, cols: Seq[String]): Column =
    xxhash64(cols.map(c => if (df.columns.contains(c)) col(c) else lit(null).cast("string")): _*)

  /** Filter over `df`'s key hashes at the GIVEN layout parameters
    * (distributed aggregate — no driver materialization of keys). */
  def fromBatch(df: DataFrame, cols: Seq[String],
      expectedItems: Long, fpp: Double): BloomFilter =
    fromBatchCounted(df, cols, expectedItems, fpp)._1

  /** [[fromBatch]] plus the batch's row count, in ONE aggregate (the
    * occupancy estimate would otherwise cost every merge a second scan
    * of the batch). The filter is a [[graft.plans.BloomBuild]]: map-side
    * partial filters, `BloomFilter.create`'s layout by construction. An
    * empty batch yields the empty filter of the same layout and a count
    * of 0. */
  def fromBatchCounted(df: DataFrame, cols: Seq[String],
      expectedItems: Long, fpp: Double): (BloomFilter, Long) = {
    val filter = graft.plans.GraftExpressions.bloomBuild(keyHashOf(df, cols), expectedItems, fpp)
    val r = df.agg(filter, count(lit(1))).head()
    (BloomFilter.readFrom(new ByteArrayInputStream(r.getAs[Array[Byte]](0))), r.getLong(1))
  }

  /** Build (or resize) the sidecar from the dataset's current rows.
    * `expectedItems` defaults to 4× the current count — headroom for
    * subsequent batch merges before fpp degrades. Occupancy restarts at
    * the dataset's live row count, deletions at zero (a rebuild scans
    * only live rows, so purged keys really are gone from the filter). */
  def build(spark: SparkSession, ds: GraftDataset, cols: Seq[String],
      expectedItems: Option[Long] = None, fpp: Double = DefaultFpp,
      maxFilterBytes: Long = DefaultMaxFilterBytes): Option[Index] = {
    val df = ds.raw(spark)
    def overBudget(items: Long): Boolean =
      BloomFilter.optimalNumOfBits(items, fpp) / 8 > maxFilterBytes
    val sized: Option[Long] = expectedItems match {
      case Some(items) => Some(items).filterNot(overBudget)
      case None => // self-sized: the count pass must precede the filter pass
        Some(math.max(1L << 16, df.count() * 4)).filterNot(overBudget)
    }
    sized match {
      case None =>
        // over the ceiling: the bloom layer switches OFF for this
        // dataset — a stale (now non-superset after overwrite, or
        // undersized) sidecar must not survive
        delete(ds.fs(spark), ds.path)
        None
      case Some(items) =>
        val (bf, n) = fromBatchCounted(df, cols, items, fpp)
        val idx = Index(cols, items, fpp, serialize(bf), inserted = n)
        write(ds.fs(spark), ds.path, idx)
        Some(idx)
    }
  }

  /** Merge a batch's keys into an index (same layout params →
    * mergeable), returning the updated index with occupancy advanced by
    * exactly the batch's rows. Deserializes a FRESH filter —
    * `idx.bloom` is cached and mergeInPlace mutates. */
  def merged(idx: Index, batch: DataFrame): Index = {
    val bf = BloomFilter.readFrom(new ByteArrayInputStream(idx.bytes))
    val (bbf, n) = fromBatchCounted(batch, idx.cols, idx.expectedItems, idx.fpp)
    bf.mergeInPlace(bbf)
    idx.copy(bytes = serialize(bf), inserted = idx.inserted + n)
  }

  /** Maintained-write hook: rebuild the sidecar when occupancy exceeds
    * its budget. `idx` is the just-written in-memory index (no second
    * sidecar read on the hot path). Callers hold the dataset lock and
    * have already committed their data, so the rebuild scans exactly
    * the live rows. Amortized O(1)/row: each rebuild quadruples the
    * budget relative to the rows that triggered it. */
  def rebuildIfOverBudget(spark: SparkSession, ds: GraftDataset, idx: Index): Unit =
    if (needsRebuild(idx)) { build(spark, ds, idx.cols, fpp = idx.fpp); () }

  /** The membership probe column for `df`'s rows against `idx`. */
  def mightContain(idx: Index): Column =
    graft.plans.GraftExpressions.bloomContains(keyHash(idx.cols), idx.bytes)
}
