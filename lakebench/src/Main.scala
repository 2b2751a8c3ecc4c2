package lakebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one seed, one client thread.
  *
  * Usage: lakebench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --record FILE [--spans FILE] [--smoke 1]
  *   [--corrupt-expected 1]
  *
  * The run builds the lake, warms up, runs ops until S seconds have
  * passed, checks outputs, and writes one JSON record. `run.py` builds,
  * launches and reports it. */
object Main {

  /** Span names whose summed inclusive time is a per-layer metric `<name>_s`. */
  val SpanTimes = Seq("ds.write", "ds.upsert", "meta.snapshot", "ds.compact",
    "core.listing", "ds.df_plan_cold", "ds.df_plan_warm", "ds.pruned",
    "ds.unified_read", "queries.plan", "queries.exec", "meta.timetravel",
    "meta.catalog", "sources.arrow_export", "functions.quality_gate",
    "operators.dedup_exact", "operators.minhash", "operators.bm25",
    "ds.curated_write")
  val Layers = Seq("ds", "core", "meta", "queries", "sources", "operators",
    "functions", "streaming")
  /** Workload-reported per-layer figures; a workload that does not reach a
    * layer reports 0 for it. */
  val WorkloadLayerKeys = LakeIngest.LayerKeys ++ LakeQuery.LayerKeys

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val smoke = args.getOrElse("smoke", "0") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val cores = args("cores").toInt
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"lakebench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, seed, smoke, work)
    val w: Workload = workload match {
      case "lake_ingest" => new LakeIngest(ctx)
      case "lake_query" => new LakeQuery(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: the lake is built once, then one warm-up pass runs every op
    // kind once, so JIT warm-up, cache fill and any work moved into set-up
    // show in setup_s, not in the timed phase. setup_s is the CPU time the
    // JVM spent on set-up, all threads: unlike wall time it does not grow
    // with the share of the host the hypervisor takes away
    val cpu0 = processCpuSeconds()
    val build = timed(w.setup(work.resolve("lake")))
    System.err.println(f"[lakebench] build: $build%.3f s")
    val warmUp = timed(w.warmUp())
    System.err.println(f"[lakebench] warm-up: $warmUp%.3f s")
    val setupCpuS = processCpuSeconds() - cpu0
    val setupS = build + warmUp

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum

    val t0 = System.nanoTime()
    ctx.checkSeconds = 0
    ctx.deadlineNs = t0 + (seconds * 1e9).toLong
    tracer.active = true
    tracer.span("bench.phase")(w.run())
    tracer.active = false
    val phase = (System.nanoTime() - t0) / 1e9 - ctx.checkSeconds
    org.apache.spark.LakebenchAccess.drainListenerBus(spark.sparkContext)

    val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1000.0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    val checks = new Checks(args.getOrElse("corrupt-expected", "0") == "1")
    val verifyS = timed(w.verify(checks))
    val rep = w.report(phase)

    val attempted = ctx.ops.size + checks.results.size
    val failed = ctx.ops.count(!_.ok) + checks.results.count(!_._2)
    val unit = ctx.ops.filter(o => rep.unitOp(o.kind)).toSeq
    // unit-op figures weigh each kind of unit op equally, so a phase that
    // ends part-way through a round of kinds does not shift them
    val kinds = unit.groupBy(_.kind).values.toSeq
    def perKind(f: Seq[Op] => Double) = kinds.map(f).sum / kinds.size
    val peakRss = peakRssMb()
    val e2e = Seq(
      "setup_s" -> setupCpuS,
      "setup_wall_s" -> setupS,
      "unit_op_s" -> perKind(os => Stats.median(os.map(_.seconds))),
      "op_p50_s" -> Stats.median(unit.map(_.seconds)),
      "op_p90_s" -> Stats.quantile(unit.map(_.seconds), 0.9),
      "unit_op_cpu_s" -> perKind(os => os.map(ctx.cpuSeconds).sum / os.size),
      "unit_op_io_mb" -> perKind(os => os.map(ctx.bytesMoved).sum / 1048576.0 / os.size),
      "ops_per_s" -> ctx.ops.size / phase,
      "peak_rss_mb" -> peakRss)
    val named = rep.named ++ Seq(
      ("failed_frac", failed.toDouble / attempted, "ratio", attempted),
      ("setup_s", setupCpuS, "s", 1),
      ("setup_wall_s", setupS, "s", 1),
      ("peak_rss_mb", peakRss, "MB", 1))

    val layer =
      if (!trace) Nil
      else layerMetrics(tracer, rep, phase) ++ Seq("jvm.gc_s" -> gcS, "jvm.heap_peak_mb" -> heapPeakMb)
    args.get("spans").foreach(p => if (trace) tracer.writeSpans(Paths.get(p)))
    tracer.close()

    val record = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "smoke" -> smoke,
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "phase_s" -> phase, "build_s" -> build, "warm_up_s" -> warmUp,
      "verify_s" -> verifyS,
      "e2e" -> e2e.toMap,
      "named" -> named.map { case (n, v, u, k) =>
        Map("name" -> n, "value" -> v, "unit" -> u, "samples" -> k) },
      "layer" -> layer.toMap,
      "ops" -> ctx.ops.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "sizes" -> w.sizes,
      "checks" -> checks.results.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> spark.version))
    Files.write(Paths.get(args("record")), record.getBytes("UTF-8"))
    spark.stop()
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set of this JVM (Linux `VmHWM`), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(Double.NaN)

  def layerMetrics(tracer: Tracer, rep: Report, phase: Double): Seq[(String, Double)] = {
    val spans = tracer.all
    val self = tracer.selfSeconds
    def named(n: String) = spans.filter(_.name == n)
    val times = SpanTimes.map(n => s"${n}_s" -> named(n).map(_.seconds).sum)
    val write = named("ds.write")
    val writeExtras = Seq(
      "ds.write_jobs" -> write.map(_.counters.jobs.toDouble).sum,
      "ds.write_driver_s" -> write.map(s => s.seconds - tracer.taskCoveredSeconds(s)).sum)
    val perLayer = Layers.flatMap { l =>
      val ls = spans.filter(_.layer == l)
      val c = ls.map(_.counters)
      val selfS = s"$l.self_s" -> ls.map(s => self(s.id)).sum
      val spanS = ls.map(_.seconds).sum
      // the listing layer submits no Spark jobs: no listener counters
      if (l == "core") Seq(selfS) else Seq(selfS,
        // share of the layer's span time in which at least one task ran:
        // low means driver work and job scheduling dominate the layer
        s"$l.task_cover_frac" -> (if (spanS > 0) ls.map(tracer.taskCoveredSeconds).sum / spanS else 0.0),
        s"$l.task_s" -> c.map(_.taskMs).sum / 1000.0,
        s"$l.gc_s" -> c.map(_.gcMs).sum / 1000.0,
        s"$l.input_bytes" -> c.map(_.inputBytes).sum.toDouble,
        s"$l.shuffle_bytes" -> c.map(_.shuffleBytes).sum.toDouble,
        s"$l.spill_bytes" -> c.map(_.spillBytes).sum.toDouble,
        s"$l.jobs" -> c.map(_.jobs).sum.toDouble)
    }
    // in-phase output checks are taken out of the phase, and out of here
    val unattributed = spans.filter(s => s.layer == "bench" && s.name != "bench.check")
      .map(s => self(s.id)).sum
    val workloadKeys = WorkloadLayerKeys.map(k => k -> rep.layer.getOrElse(k, 0.0))
    times ++ writeExtras ++ perLayer ++ workloadKeys ++ Seq(
      "bench.unattributed_s" -> unattributed,
      "bench.layer_coverage_frac" -> (if (phase > 0) 1 - unattributed / phase else 0.0))
  }
}
