package graft.ds

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.values.bloomfilter.{BlockSplitBloomFilter, BloomFilter}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import scala.jdk.CollectionConverters._

/** Parquet row-group bloom filters via [[DatasetWriter.withRowGroupBloom]]:
  * the skipping layer BELOW the file-stats index. Min/max footer stats
  * (and therefore the `_stats_index` sidecar) cannot discriminate point
  * lookups on a high-cardinality UNCLUSTERED key — every range spans
  * the domain — but a per-row-group bloom answers "definitely absent"
  * for exactly that shape, and Spark's parquet reader consumes it
  * automatically for pushed = / IN predicates. The spec proves the
  * filters physically exist in the footers, behave like blooms
  * (no false negatives, low false-positive rate), and that reads stay
  * exact. */
class RowGroupBloomSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/ds"

  /** doc_id is a high-cardinality string key in RANDOM order — the
    * anti-clustered shape where min/max stats are useless. */
  private def corpusKey(i: Int): String = f"doc-${(i * 2654435761L) % 1000003}%08d"

  private def corpus = (0 until 20000).map(i => (corpusKey(i), i.toLong)).toDF("doc_id", "n")

  private def writeCorpus(dir: String, bloom: Boolean): GraftDataset = {
    val ds = GraftDataset(dir)
    val base = DatasetWriter(ds, WriteMode.Overwrite, rowGroupSize = Some(2000L))
    val w = if (bloom) base.withRowGroupBloom("doc_id") else base
    w.write(spark, corpus.repartition(2))
    ds
  }

  private def bloomOffsets(ds: GraftDataset): Seq[Long] =
    bloomOffsetsOf(ds.dataFiles(spark))

  private def bloomOffsetsOf(files: Seq[String]): Seq[Long] =
    bloomChunks(files, "doc_id").map(_.offset)

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** One column chunk's bloom: offset and length (header included) are
    * negative when the chunk carries none, and `bf` is then null. */
  private case class Chunk(rows: Long, offset: Long, len: Int, bf: BloomFilter)

  /** Every `c` chunk, in file then row-group order. */
  private def bloomChunks(files: Seq[String], c: String): Seq[Chunk] =
    files.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), hconf))
      try r.getFooter.getBlocks.asScala.toSeq.map { b =>
        val ch = b.getColumns.asScala.find(_.getPath.toDotString == c).get
        Chunk(b.getRowCount, ch.getBloomFilterOffset, ch.getBloomFilterLength,
          if (ch.getBloomFilterOffset < 0) null
          else r.getBloomFilterDataReader(b).readBloomFilter(ch))
      } finally r.close()
    }

  /** Bitset bytes of a split-block filter pinned to `ndv` keys at 1%
    * FPP: optimalNumOfBits rounded up to a power of two, at most the
    * 1 MiB cap. */
  private def pinnedBytes(ndv: Long): Int = {
    val bytes = BlockSplitBloomFilter.optimalNumOfBits(ndv, 0.01) / 8
    val pow2 = if (Integer.bitCount(bytes) == 1) bytes else Integer.highestOneBit(bytes) << 1
    math.min(pow2, 1 << 20)
  }

  // a serialized filter is its bitset plus a small thrift header
  private val MaxHeaderBytes = 64

  /** Right-sized: at most twice the pinned size for the row group's
    * row count (an upper bound on its distinct keys), header included. */
  private def assertRightSized(chunks: Seq[Chunk]): Unit = {
    assert(chunks.nonEmpty, "fixture must carry bloom chunks")
    chunks.foreach { case Chunk(rows, _, len, bf) =>
      assert(len > 0 && bf != null, s"every chunk must carry a filter (rows=$rows, len=$len)")
      assert(len <= 2 * pinnedBytes(rows) + MaxHeaderBytes,
        s"$rows-row group wrote a $len-byte filter; sized bound is ${2 * pinnedBytes(rows)}")
    }
  }

  /** Column `c` of file `f` as strings, in row order. */
  private def columnValues(f: String, c: String): Vector[String] = {
    val r = ParquetReader.builder(new GroupReadSupport(), new Path(f)).withConf(hconf).build()
    try Iterator.continually(r.read()).takeWhile(_ != null).map(_.getString(c, 0)).toVector
    finally r.close()
  }

  test("withRowGroupBloom lands real bloom filters; plain writes do not") {
    val plain = writeCorpus(tmpDir("graft_rgbloom_off"), bloom = false)
    assert(bloomOffsets(plain).forall(_ < 0), "no bloom expected without the option")

    // un-pinned, so each filter is sized to its row group rather than
    // parquet's 1 MiB cap
    val ds = writeCorpus(tmpDir("graft_rgbloom_on"), bloom = true)
    val files = ds.dataFiles(spark)
    val chunks = bloomChunks(files, "doc_id")
    assertRightSized(chunks)

    // bloom semantics straight from the footer: EVERY written key tests
    // present in the filter of the row group holding it (no false
    // negatives — the property skipping correctness rests on); absent
    // keys mostly test false
    val keys = files.flatMap(columnValues(_, "doc_id"))
    assert(keys.size == 20000)
    chunks.scanLeft(0L)(_ + _.rows).zip(chunks).foreach { case (start, ch) =>
      keys.slice(start.toInt, (start + ch.rows).toInt).foreach { k =>
        assert(ch.bf.findHash(ch.bf.hash(Binary.fromString(k))),
          s"written key $k must test present in its row group's bloom")
      }
      val absent = (0 until 1000).count(i =>
        ch.bf.findHash(ch.bf.hash(Binary.fromString(s"nope-$i-${i * 7919}"))))
      // 1% target FPP: 10 expected, 30 leaves room for chance but
      // fails an adaptive candidate one size too small
      assert(absent <= 30, s"false-positive rate too high: $absent/1000")
    }

    // reads stay exact with pushdown on (point lookup + a miss)
    val hit = spark.read.parquet(ds.path).filter(col("doc_id") === "doc-00000000")
    val bare = ds.df(spark).filter(col("doc_id") === "doc-00000000")
    assert(hit.count() == bare.count())
    assert(spark.read.parquet(ds.path)
      .filter(col("doc_id") === "absent-key").count() == 0)
  }

  test("a pinned NDV keeps its exact size beside an adaptive column") {
    val pinnedNdv = 100000L
    val df = corpus.withColumn("key", concat(lit("k-"), col("doc_id")))
    def write(name: String, rgb: Seq[(String, Option[Long])]): Seq[String] = {
      val ds = GraftDataset(tmpDir(name))
      DatasetWriter(ds, WriteMode.Overwrite, rowGroupSize = Some(2000L), rowGroupBloom = rgb)
        .write(spark, df.repartition(2))
      ds.dataFiles(spark)
    }
    val files = write("graft_rgbloom_mixed", Seq("doc_id" -> None, "key" -> Some(pinnedNdv)))
    // a pin-only write sets no adaptive flag: the reference length
    val pinOnly = bloomChunks(write("graft_rgbloom_pinonly", Seq("key" -> Some(pinnedNdv))), "key")
    val pinnedLen = pinOnly.map(_.len).distinct
    assert(pinnedLen.size == 1 && pinOnly.forall(_.bf.getBitsetSize == pinnedBytes(pinnedNdv)))
    val pinned = bloomChunks(files, "key")
    assert(pinned.nonEmpty && pinned.forall(_.len == pinnedLen.head),
      s"the global adaptive flag must not resize a pin: ${pinned.map(_.len)} vs $pinnedLen")
    val adaptive = bloomChunks(files, "doc_id")
    assertRightSized(adaptive)
    assert(adaptive.forall(_.bf.getBitsetSize < pinnedBytes(pinnedNdv)),
      "the un-pinned column beside the pin must size adaptively")
  }

  test("compaction shrinks 1 MiB filters written before adaptive sizing") {
    // the options a contracted write emitted before adaptive sizing:
    // every chunk gets parquet's 1 MiB cap whatever its row count
    val dir = tmpDir("graft_rgbloom_shrink")
    corpus.repartition(4).write
      .option("parquet.bloom.filter.enabled#doc_id", "true")
      .option("parquet.enable.dictionary#doc_id", "false")
      .parquet(dir)
    val ds = GraftDataset(dir)
    val old = bloomChunks(ds.dataFiles(spark), "doc_id")
    assert(old.size >= 4 && old.forall(_.len > (1 << 20)),
      s"fixture must start at the cap: ${old.map(_.len)}")

    RowGroupBloom.write(ds.fs(spark), ds.path, Seq("doc_id" -> None))
    assert(Repartition.compact(spark, ds).partitionsCompacted > 0, "fixture must actually compact")
    assertRightSized(bloomChunks(ds.dataFiles(spark), "doc_id"))

    // point lookups stay exact through the rewritten filters
    val read = spark.read.parquet(ds.path)
    Seq(0, 1, 4999, 12345, 19999).foreach { i =>
      assert(read.filter(col("doc_id") === corpusKey(i)).select("n").as[Long].collect()
        .toSeq == Seq(i.toLong), s"lookup of key $i")
    }
    val probe = (0 until 20000 by 97).map(corpusKey)
    assert(read.filter(col("doc_id").isin(probe: _*)).count() == probe.size)
    assert(read.filter(col("doc_id") === "absent-key").count() == 0)
  }

  test("the bloom contract survives maintenance rewrites (append/compact/delete)") {
    val ds = writeCorpus(tmpDir("graft_rgbloom_keep"), bloom = true)
    val fs = ds.fs(spark)
    assert(RowGroupBloom.load(fs, ds.path) == Seq("doc_id" -> None),
      "a contracted write must persist the contract sidecar")

    // fragment with plain appends that never restate the option — the
    // persisted contract must apply on its own
    (0 until 3).foreach { i =>
      DatasetWriter(ds, WriteMode.Append)
        .write(spark, (0 until 3000)
          .map(j => (f"doc-extra-$i-${(j * 2654435761L) % 999983}%08d", 100000L + j))
          .toDF("doc_id", "n").repartition(1))
    }
    val appended = bloomOffsets(ds)
    assert(appended.nonEmpty && appended.forall(_ >= 0),
      s"un-restated appends must still land bloom filters, offsets=$appended")

    // compaction rewrites every file: filters must survive the rewrite
    // and the contract file must survive the root swap
    val stats = Repartition.compact(spark, ds, targetFileBytes = 512L * 1024 * 1024)
    assert(stats.partitionsCompacted > 0, "fixture must actually compact")
    val compacted = bloomOffsets(ds)
    assert(compacted.nonEmpty && compacted.forall(_ >= 0),
      s"compacted files must keep bloom filters, offsets=$compacted")
    assert(RowGroupBloom.load(fs, ds.path) == Seq("doc_id" -> None),
      "the contract must ride the compaction swap")

    // delete-where rewrites kept rows: same invariant
    assert(DatasetDelete.deleteWhere(spark, ds, col("n") >= 100000L) > 0)
    val afterDelete = bloomOffsets(ds)
    assert(afterDelete.nonEmpty && afterDelete.forall(_ >= 0),
      s"delete rewrite must keep bloom filters, offsets=$afterDelete")
    assert(RowGroupBloom.load(fs, ds.path) == Seq("doc_id" -> None),
      "the contract must ride the delete swap")
    // and the data is still exact
    assert(spark.read.parquet(ds.path).count() == 20000)
  }

  test("unify rewrite keeps the bloom contract on rewritten groups") {
    val ds = writeCorpus(tmpDir("graft_rgbloom_unify"), bloom = true)
    // a FOREIGN append with a wider schema forces the original group
    // through the unify rewrite (unified schema promotes to the wider)
    (0 until 100).map(i => (s"x-$i", i.toLong, i * 1.0)).toDF("doc_id", "n", "extra")
      .coalesce(1).write.mode("append").parquet(ds.path)
    val before = ds.dataFiles(spark).toSet
    assert(DatasetWriter.unifySchemaRewrite(spark, ds), "rewrite must trigger")
    val rewritten = ds.dataFiles(spark).filterNot(before)
    assert(rewritten.nonEmpty, "the narrow-schema group must have been rewritten")
    val offs = bloomOffsetsOf(rewritten)
    assert(offs.nonEmpty && offs.forall(_ >= 0),
      s"rewritten files must keep the contracted blooms, offsets=$offs")
  }

  test("withoutRowGroupBloom ends the contract: options off, sidecar gone") {
    val ds = writeCorpus(tmpDir("graft_rgbloom_end"), bloom = true)
    val fs = ds.fs(spark)
    assert(RowGroupBloom.load(fs, ds.path).nonEmpty)
    val before = ds.dataFiles(spark).toSet
    DatasetWriter(ds, WriteMode.Append).withoutRowGroupBloom
      .write(spark, (0 until 3000)
        .map(j => (f"doc-end-${(j * 2654435761L) % 999983}%08d", 1L))
        .toDF("doc_id", "n").repartition(1))
    assert(RowGroupBloom.load(fs, ds.path).isEmpty,
      "opting out must delete the persisted contract")
    val newFiles = ds.dataFiles(spark).filterNot(before)
    assert(newFiles.nonEmpty && bloomOffsetsOf(newFiles).forall(_ < 0),
      "the opted-out write must not carry blooms")
    // and later plain appends stay contract-free
    DatasetWriter(ds, WriteMode.Append).write(spark,
      (0 until 3000).map(j => (f"doc-end2-${(j * 2654435761L) % 999983}%08d", 2L))
        .toDF("doc_id", "n").repartition(1))
    assert(RowGroupBloom.load(fs, ds.path).isEmpty)
  }

  test("the contract materializes blooms even where a dictionary would hold") {
    // Round-19 semantics change (w21 oracle gap at sf0.001): parquet's
    // adaptive rule drops the bloom whenever a chunk stays fully
    // dictionary-encoded, and THAT depends on the 1 MB dictionary
    // page-size threshold, not the data — a unique key small enough to
    // fit its dictionary (a tiny scale factor) silently lost the very
    // filters the contract paid for. The contract now writes declared
    // columns PLAIN, so the bloom lands at every scale and row count.
    // (a) dictionary-friendly row count of a UNIQUE key — the w21 @
    // sf0.001 shape that used to come back bloom-less:
    val tiny = GraftDataset(tmpDir("graft_rgbloom_tiny"))
    DatasetWriter(tiny, WriteMode.Overwrite)
      .withRowGroupBloom("doc_id")
      .write(spark, (0 until 6000)
        .map(i => (f"doc-${(i * 2654435761L) % 1000003}%08d", i.toLong))
        .toDF("doc_id", "n").repartition(1))
    assert(bloomOffsets(tiny).nonEmpty && bloomOffsets(tiny).forall(_ >= 0),
      "a tiny unique-key write must still carry its contracted blooms")
    // (b) even a REPETITIVE key gets the bloom once contracted — the
    // caller declared it a lookup key; predictability beats the
    // adaptive page-size heuristic:
    val ds = GraftDataset(tmpDir("graft_rgbloom_dict"))
    val df = (0 until 20000).map(i => (s"cat-${i % 50}", i.toLong)).toDF("doc_id", "n")
    DatasetWriter(ds, WriteMode.Overwrite)
      .withRowGroupBloom("doc_id")
      .write(spark, df.repartition(2))
    assert(bloomOffsets(ds).nonEmpty && bloomOffsets(ds).forall(_ >= 0),
      "a contracted column carries blooms regardless of cardinality")
    // and lookups stay exact (bloom has no false negatives)
    assert(spark.read.parquet(ds.path).filter(col("doc_id") === "cat-7").count() == 400)
    // (c) UNcontracted columns keep dictionary encoding untouched: the
    // plain-encoding override is scoped to the declared columns only
    val plainN = spark.read.parquet(ds.path).filter(col("n") === 7L).count()
    assert(plainN == 1)
  }
}
