package lakebench

import scala.collection.mutable
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = (lo + 1) min (s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Final output checks against references that bypass the layer under
  * test. With `corrupt` the first expected value is perturbed, so a run
  * must fail: that proves the gate can trip. */
final class Checks(corrupt: Boolean) {
  val results = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  def expect(name: String, expected: Any, actual: Any): Unit = {
    val exp = if (corrupt && results.isEmpty) expected match {
      case n: Long => n + 1
      case n: Int => n + 1
      case d: Double => d + 1
      case other => s"$other#corrupted"
    } else expected
    val ok = exp == actual
    results += ((name, ok, s"expected=$exp actual=$actual"))
    if (!ok) System.err.println(s"[lakebench] CHECK FAILED $name: expected=$exp actual=$actual")
  }
}

/** Run-wide context handed to every workload. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val smoke: Boolean, val work: java.nio.file.Path) {
  /** Every timed op, in order. */
  val ops = mutable.ArrayBuffer.empty[Op]

  private val taskCost = new TaskCost
  spark.sparkContext.addSparkListener(taskCost)

  /** Run one closed-loop op: timed, counted as attempted, and counted as
    * failed if it throws or returns false. The tracer gets a new op id and
    * a `bench.op` span, whose self time is the harness's own share. */
  def op(kind: String)(body: => Boolean): Unit = {
    val id = tracer.nextOp()
    val sc = spark.sparkContext
    sc.setLocalProperty(TaskCost.Key, id.toString)
    val t0 = System.nanoTime()
    val c0 = Ctx.threads.getCurrentThreadCpuTime
    val check0 = checkSeconds
    val ok = try tracer.span("bench.op")(body) catch {
      case e: Exception =>
        System.err.println(s"[lakebench] op $kind failed: $e")
        e.printStackTrace()
        false
    } finally sc.setLocalProperty(TaskCost.Key, null)
    // an output check made inside the op is not part of its latency
    val seconds = (System.nanoTime() - t0) / 1e9 - (checkSeconds - check0)
    ops += Op(id, kind, seconds, (Ctx.threads.getCurrentThreadCpuTime - c0) / 1e9, ok)
    if (!ok) System.err.println(s"[lakebench] op $kind produced a wrong output")
  }

  /** CPU seconds of an op: its tasks plus the client thread. Valid once
    * the listener bus has drained. */
  def cpuSeconds(o: Op): Double = o.clientCpuSeconds + taskCost.seconds(o.id)
  /** Bytes the op's tasks read, shuffled and wrote. */
  def bytesMoved(o: Op): Long = taskCost.bytesMoved(o.id)

  /** End of the timed phase; output checks made inside it push it back. */
  var deadlineNs = Long.MaxValue
  var checkSeconds = 0.0
  def timeLeft: Boolean = System.nanoTime() < deadlineNs

  /** An output check inside the timed phase: its time is taken out of the
    * phase and out of the enclosing op's latency, so it counts in no
    * metric. */
  def check(body: => Boolean): Boolean = {
    val t0 = System.nanoTime()
    try tracer.span("bench.check")(body)
    finally {
      val dt = System.nanoTime() - t0
      checkSeconds += dt / 1e9
      deadlineNs += dt
    }
  }

  def latencies(kinds: String*): Seq[Double] =
    ops.collect { case o if kinds.contains(o.kind) => o.seconds }.toSeq

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** One timed op: wall seconds and the client thread's CPU seconds. */
final case class Op(id: Int, kind: String, seconds: Double, clientCpuSeconds: Double, ok: Boolean)

object Ctx {
  val threads = java.lang.management.ManagementFactory.getThreadMXBean
}

/** CPU time and bytes moved by the Spark tasks each op ran, attributed
  * through a local property that jobs inherit, streaming queries' jobs
  * included. JIT and GC threads are left out: their share varies from run
  * to run with timing, not with the work the op asked for. */
final class TaskCost extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  private val nanos = new java.util.concurrent.ConcurrentHashMap[Integer, AtomicLong]()
  private val bytes = new java.util.concurrent.ConcurrentHashMap[Integer, AtomicLong]()
  private def add(m: java.util.concurrent.ConcurrentHashMap[Integer, AtomicLong], id: Integer, v: Long): Unit =
    m.computeIfAbsent(id, _ => new AtomicLong).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(TaskCost.Key))).foreach { id =>
      e.stageIds.foreach(st => stageOp.put(st, Integer.valueOf(id.toInt)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageOp.get(e.stageId)
    val m = e.taskMetrics
    if (id != null && m != null) {
      add(nanos, id, m.executorCpuTime + m.executorDeserializeCpuTime)
      add(bytes, id, m.inputMetrics.bytesRead + m.outputMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def seconds(op: Int): Double = Option(nanos.get(Integer.valueOf(op))).map(_.get / 1e9).getOrElse(0.0)
  def bytesMoved(op: Int): Long = Option(bytes.get(Integer.valueOf(op))).map(_.get).getOrElse(0L)
}

object TaskCost {
  val Key = "lakebench.op"
}

/** What a workload reports besides its op latencies. */
final case class Report(
    /** The workload's unit op (`op_p50_s`, `op_p90_s`, `unit_op_cpu_s`). */
    unitOp: String => Boolean,
    /** The workload's own end-to-end figures: (name, value, unit, samples). */
    named: Seq[(String, Double, String, Int)],
    /** Per-layer figures that are not span times or listener counters. */
    layer: Map[String, Double])

trait Workload {
  /** Build fresh inputs and a fresh lake under `dir`. */
  def setup(dir: java.nio.file.Path): Unit
  /** One op of every kind the timed phase runs, so that JIT warm-up and
    * cache fill land in set-up time. */
  def warmUp(): Unit
  /** Closed loop, one client: ops until the deadline, and at least one of
    * every kind. */
  def run(): Unit
  /** Compare outputs with references that bypass the layer under test. */
  def verify(checks: Checks): Unit
  def report(phaseSeconds: Double): Report
  /** Input sizes, for the run's provenance. */
  def sizes: Map[String, Long]
}

object Fs {
  /** Bytes of every file under `p`, hidden files included. */
  def bytesUnder(p: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(p)
    try s.iterator().asScala.filter(x => java.nio.file.Files.isRegularFile(x))
      .map(x => java.nio.file.Files.size(x)).sum
    finally s.close()
  }

  /** Visible parquet files under `p`, found by a plain directory walk. */
  def parquetFiles(p: java.nio.file.Path): Seq[String] = {
    val s = java.nio.file.Files.walk(p)
    try s.iterator().asScala.filter { x =>
      val n = x.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_") &&
        !p.relativize(x).iterator().asScala.exists(c => c.toString.startsWith(".") || c.toString.startsWith("_"))
    }.map(_.toString).toList.sorted
    finally s.close()
  }

  /** Bytes written through Hadoop's local filesystem by this JVM so far:
    * every data file, sidecar, manifest and checkpoint the engine writes. */
  def hadoopBytesWritten(): Long = {
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }
}
