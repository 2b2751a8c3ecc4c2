package lakebench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-side counters attributed to one span: every job submitted while
  * the span was the innermost open one on the client thread (or on a
  * thread it started, such as a streaming query's execution thread). */
final class Counters {
  var jobs = 0L
  var taskMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** (launch, finish) epoch-ms of each finished task, for task coverage. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One traced call into a layer. `name` is `<layer>.<call>`; the layer is
  * the prefix, so `bench.*` spans are the harness's own time. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, var endNs: Long, counters: Counters) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans are kept in memory and written when the run ends.
  * When disabled, [[span]] runs its body and records nothing, and no
  * listener is attached, so an untraced run pays one branch per call. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opId = 0
  // epoch-ms = nanoTime / 1e6 + offset; task times arrive in epoch-ms
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
  private val PropKey = "lakebench.span"

  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val bySpan = new ConcurrentHashMap[Integer, Counters]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
      sid.foreach { s =>
        val id = Integer.valueOf(s.toInt)
        e.stageIds.foreach(st => stageSpan.put(st, id))
        Option(bySpan.get(id)).foreach(c => c.synchronized(c.jobs += 1))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      if (id != null && e.taskMetrics != null) Option(bySpan.get(id)).foreach { c =>
        val m = e.taskMetrics
        c.synchronized {
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Start a new op: spans opened until the next call share its id. */
  def nextOp(): Int = { opId += 1; opId }

  /** Spans are recorded only while active: during the timed phase. */
  var active = false

  def span[T](name: String)(body: => T): T =
    if (!enabled || !active) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), opId,
        System.nanoTime(), 0L, new Counters)
      spans += s
      bySpan.put(Integer.valueOf(s.id), s.counters)
      stack = s :: stack
      val prev = sc.getLocalProperty(PropKey)
      sc.setLocalProperty(PropKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(PropKey, prev)
      }
    }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)

  def all: Seq[Span] = spans.toSeq

  /** Task-covered time inside `s`: union of its tasks' run intervals,
    * clipped to the span. */
  def taskCoveredSeconds(s: Span): Double = {
    val lo = s.startNs / 1000000L + epochOffsetMs
    val hi = s.endNs / 1000000L + epochOffsetMs
    Tracer.unionLength(s.counters.taskIntervals.toSeq.map { case (a, b) => (a max lo, b min hi) }) / 1000.0
  }

  /** Self time: duration minus the union of the direct children's intervals. */
  def selfSeconds: Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Tracer.unionLength(children.getOrElse(s.id, Nil).toSeq.map(c => (c.startNs, c.endNs)))
      s.id -> ((s.endNs - s.startNs) - covered) / 1e9
    }.toMap
  }

  /** One JSON object per span: name, start/end (ns from the first span),
    * parent, op id, self time and attached listener counters. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val self = selfSeconds
    val lines = spans.map { s =>
      val c = s.counters
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> (s.startNs - t0), "end_ns" -> (s.endNs - t0),
        "self_s" -> self(s.id), "jobs" -> c.jobs, "task_s" -> c.taskMs / 1000.0,
        "gc_s" -> c.gcMs / 1000.0, "input_bytes" -> c.inputBytes,
        "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes,
        "task_covered_s" -> taskCoveredSeconds(s)))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Length of the union of half-open intervals; empty ones are ignored. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    covered + (curB - curA)
  }
}
