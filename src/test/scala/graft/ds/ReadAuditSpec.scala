package graft.ds

import java.io.InputStream
import java.nio.ByteBuffer
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.function.IntFunction
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FSDataInputStream, FileRange, Path, PositionedReadable, Seekable}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Local-disk stand-in that records what every opened stream reads:
  * each call's kind — 's' sequential (`read` at the stream position),
  * 'p' positioned (`read`/`readFully` at an offset) or 'v' vectored (one
  * entry per range of a `readVectored`) — with its offset and logical
  * length. Bytes are counted as the caller asked for them, above any
  * buffering, and vectored ranges count like any other read, so a tally
  * sees column chunks that parquet-mr fetches through Hadoop's vectored
  * IO. */
class CountingFs extends GraftTestFs {
  override def getScheme: String = "graftcount"
  override def getUri: java.net.URI = java.net.URI.create("graftcount:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val opened = new CountingFs.Opened(f)
    CountingFs.opened.add(opened)
    new FSDataInputStream(new CountingFs.Stream(super.open(f, bufferSize), opened))
  }
}

object CountingFs {
  final case class Read(kind: Char, pos: Long, len: Long)

  /** One `open` call: the path, whether a Spark task opened it, and the
    * reads made through its stream. */
  final class Opened(val path: Path) {
    val inTask: Boolean = org.apache.spark.TaskContext.get() != null
    private val log = new ConcurrentLinkedQueue[Read]
    def add(r: Read): Unit = if (r.len > 0) log.add(r)
    def reads: Seq[Read] = log.asScala.toSeq
    def bytes: Long = reads.map(_.len).sum
  }

  private val opened = new ConcurrentLinkedQueue[Opened]
  def reset(): Unit = opened.clear()
  /** Every stream opened since the last [[reset]]. */
  def streams: Seq[Opened] = opened.asScala.toSeq
  /** The parquet data-file streams Spark tasks opened since the last [[reset]]. */
  def taskStreams: Seq[Opened] = streams.filter(o => o.inTask && o.path.getName.endsWith(".parquet"))

  /** Byte ranges [from, until) of one part of a file's footer metadata. */
  final case class Region(what: String, from: Long, until: Long) {
    def overlaps(r: Read): Boolean = r.pos < until && r.pos + r.len > from
  }

  /** Every bloom filter, column index and offset index of `file`. */
  def regions(file: Path, conf: org.apache.hadoop.conf.Configuration): Seq[Region] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala).flatMap { ch =>
      val c = ch.getPath.toDotString
      Option.when(ch.getBloomFilterOffset >= 0)(
        Region(s"bloom $c", ch.getBloomFilterOffset, ch.getBloomFilterOffset + ch.getBloomFilterLength)) ++
        Option(ch.getColumnIndexReference).map(x => Region(s"column index $c", x.getOffset, x.getOffset + x.getLength)) ++
        Option(ch.getOffsetIndexReference).map(x => Region(s"offset index $c", x.getOffset, x.getOffset + x.getLength))
    } finally r.close()
  }

  private final class Stream(in: FSDataInputStream, log: Opened)
      extends InputStream with Seekable with PositionedReadable {
    override def read(): Int = {
      val pos = in.getPos
      val b = in.read()
      if (b >= 0) log.add(Read('s', pos, 1))
      b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val pos = in.getPos
      val n = in.read(b, off, len)
      if (n > 0) log.add(Read('s', pos, n))
      n
    }
    override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(position, b, off, len)
      if (n > 0) log.add(Read('p', position, n))
      n
    }
    override def readFully(position: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      in.readFully(position, b, off, len)
      log.add(Read('p', position, len))
    }
    override def readFully(position: Long, b: Array[Byte]): Unit = readFully(position, b, 0, b.length)
    override def readVectored(ranges: java.util.List[_ <: FileRange],
        allocate: IntFunction[ByteBuffer]): Unit = {
      ranges.asScala.foreach(r => log.add(Read('v', r.getOffset, r.getLength)))
      in.readVectored(ranges, allocate)
    }
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
    override def available(): Int = in.available()
    override def close(): Unit = in.close()
  }
}

/** What a bloom point lookup's tasks read, byte by byte. The driver
  * has already read each file's footer and blooms to decide which files
  * and row groups to keep ([[RowGroupBloom.fileVerdict]]); a task of a
  * relation that [[AutoPrune]] governs then reads the kept row groups
  * and nothing the driver already answered: no bloom filter and, for
  * one-page chunks, no column or offset index. A plain read of the same
  * files — Spark's own reader, as before this level existed — reads all
  * of them. A split whose kept row groups are scattered reads no more
  * than that plain read. */
class ReadAuditSpec extends AnyFunSuite {
  private lazy val plain: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.hadoopConfiguration.set("fs.graftcount.impl", classOf[CountingFs].getName)
    s
  }
  private lazy val pruning: SparkSession = {
    val s = plain.newSession()
    AutoPrune.enable(s)
    s
  }

  /** The rows of `df` and the data-file streams its tasks open, by file
    * name. */
  private def taskReads(df: DataFrame): (Seq[org.apache.spark.sql.Row], Map[String, Seq[CountingFs.Opened]]) = {
    CountingFs.reset()
    val rows = df.collect().toSeq
    (rows, CountingFs.taskStreams.groupBy(_.path.getName))
  }

  test("a bloom point lookup's tasks read no bloom and no page index, fewer bytes per file") {
    val dir = Files.createTempDirectory("graft_read_audit").toString + "/ds"
    val key = 424242L
    // four one-row-group files, every one holding the key: the driver
    // keeps each, so each task reads the whole kept row group
    val ds = GraftDataset(dir)
    DatasetWriter(ds, WriteMode.Overwrite).withRowGroupBloom("k")
      .write(plain, plain.range(0, 8000).select(col("id"),
        when(col("id") % 1000 === 7, lit(key)).otherwise(col("id") * 7919 % 1000003).as("k"),
        concat(lit("v"), col("id")).as("v")).repartitionByRange(4, col("id")))
    val counted = s"graftcount://$dir"
    def lookup(s: SparkSession) = s.read.parquet(counted).filter(col("k") === key).select("id", "v")
    val (lean, leanFiles) = taskReads(lookup(pruning))
    val (full, fullFiles) = taskReads(lookup(plain))
    assert(lean.map(_.toString).sorted == full.map(_.toString).sorted && lean.size == 8)
    assert(leanFiles.keySet.size == 4 && leanFiles.keySet == fullFiles.keySet, leanFiles.keySet)
    leanFiles.foreach { case (name, streams) =>
      val file = new Path(dir, name)
      val meta = CountingFs.regions(file, plain.sparkContext.hadoopConfiguration)
      val bloom = meta.find(_.what == "bloom k").get
      // the audit sees these regions: Spark's own reader reads the bloom
      // and the probe column's page indexes
      val fullReads = fullFiles(name).flatMap(_.reads)
      assert(fullReads.exists(bloom.overlaps), s"$name: the plain read skipped the bloom")
      assert(meta.filter(_.what.endsWith(" k")).forall(m => fullReads.exists(m.overlaps)))
      val touched = for (s <- streams; r <- s.reads; m <- meta if m.overlaps(r)) yield s"${m.what} by $r"
      assert(touched.isEmpty, s"$name: a lean task read ${touched.mkString(", ")}")
      val (leanBytes, fullBytes) = (streams.map(_.bytes).sum, fullFiles(name).map(_.bytes).sum)
      assert(leanBytes + (bloom.until - bloom.from) <= fullBytes,
        s"$name: $leanBytes bytes lean vs $fullBytes plain, bloom ${bloom.until - bloom.from}")
      def kinds(ss: Seq[CountingFs.Opened]) = ss.flatMap(_.reads).groupBy(_.kind).view
        .mapValues(rs => s"${rs.size}x/${rs.map(_.len).sum}B").toSeq.sorted.mkString(" ")
      info(s"$name: lean ${streams.size} opens ${kinds(streams)}; plain ${fullFiles(name).size} opens " +
        s"${kinds(fullFiles(name))}")
    }
  }

  test("a lookup whose kept row groups are scattered reads no more than Spark's reader") {
    val dir = Files.createTempDirectory("graft_read_audit_runs").toString + "/ds"
    // one file of many row groups of random-order unique keys; id is
    // the row number
    DatasetWriter(GraftDataset(dir), WriteMode.Overwrite, rowGroupSize = Some(100L)).withRowGroupBloom("k")
      .write(plain, plain.range(0, 12000).select(col("id"), (col("id") * 2654435761L % 1000003L).as("k"),
        concat(lit("v"), col("id")).as("v")).coalesce(1))
    val file = new Path(GraftDataset(dir).dataFiles(plain).head)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, plain.sparkContext.hadoopConfiguration))
    val rows = try r.getFooter.getBlocks.asScala.toSeq.map(_.getRowCount) finally r.close()
    assert(rows.size >= 20, s"fixture wrote ${rows.size} row groups")
    // one key in each of five row groups with kept-out ones between them
    val firstIds = rows.scanLeft(0L)(_ + _)
    val keys = Seq(1, 5, 9, 13, 17).map(g => (firstIds(g) + 1) * 2654435761L % 1000003L)
    val counted = s"graftcount://$dir"
    def lookup(s: SparkSession) = s.read.parquet(counted).filter(col("k").isin(keys: _*)).select("id", "v")
    val (scattered, scatteredFiles) = taskReads(lookup(pruning))
    val (full, fullFiles) = taskReads(lookup(plain))
    assert(scattered.map(_.toString).sorted == full.map(_.toString).sorted && scattered.size == 5)
    val (streams, plainStreams) = (scatteredFiles(file.getName), fullFiles(file.getName))
    val (bytes, plainBytes) = (streams.map(_.bytes).sum, plainStreams.map(_.bytes).sum)
    // a read per run would open the file, and read its footer, per run
    assert(streams.size <= plainStreams.size && bytes <= plainBytes,
      s"${streams.size} opens and $bytes bytes vs Spark's ${plainStreams.size} and $plainBytes")
    info(s"${rows.size} row groups: ${streams.size} opens, $bytes B; Spark's reader ${plainStreams.size} opens, " +
      s"$plainBytes B")
  }
}
