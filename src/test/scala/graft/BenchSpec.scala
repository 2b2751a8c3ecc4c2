package graft

import org.scalatest.funsuite.AnyFunSuite

import Bench._

/** Bench's lane logic without a Spark session or a child JVM: the lane
  * table's knobs, the mover verdicts (driven through the forked-lane
  * runner with a fake fork), the host-sized child heap, the prior and
  * TimeOne parsers, and golden strings for every output a run emits.
  *
  * The goldens are the byte format that stdout readers and the next
  * run's `parsePrior` read: the field orders and `%.3f`/`%.2f` numbers of the
  * format strings the artifacts have always been written with. 1.0005
  * and 2.005 pin the rounding: `%.3f` rounds the shortest decimal form
  * (1.001, 2.01), not the binary value (1.000, 2.00). */
class BenchSpec extends AnyFunSuite {
  private val meminfo16g = "MemTotal:       16456384 kB\nMemFree:        13760908 kB\nMemAvailable:   15845704 kB\n"

  private val env = Map(
    "SPARK_GRAFT_SF_DIR" -> "/d/sf", "SPARK_GRAFT_SF1_DIR" -> "/d/sf1",
    "SPARK_GRAFT_SF100_DIR" -> "/d/sf100", "SPARK_GRAFT_ISOLATED_REPS" -> "2",
    "SPARK_GRAFT_SF100_REPS" -> "1", "SPARK_GRAFT_ISOLATED_KEYS" -> "k1,k2,k3")
  private val (mainLane, sf1Lane, isoLane, sf100Lane) = lanes(env)

  test("lanes keep every knob's name, default and the SF100 -> ISOLATED fallback") {
    val (m, s1, iso, s100) = lanes(Map.empty)
    assert((m.dir, m.reps, m.on, m.forked) == (("/root/testdata/sf0.1", 2, true, false)))
    assert(m.keys == SparkEntry.queries.keys.toSeq.sorted)
    assert((s1.dir, s1.reps, s1.on, s1.keys) == (("target/scale/sf1", 2, true, sf1Keys)))
    assert((iso.dir, iso.reps, iso.on, iso.heapGb, iso.keys) == (("target/scale/sf1", 3, true, 16, sf1Keys)))
    assert((s100.dir, s100.reps, s100.on, s100.heapGb, s100.keys) ==
      (("target/scale/sf100", 2, true, 24, sf100Keys)))
    assert(Seq(m, s1, iso, s100).map(_.artifact) ==
      Seq("BENCH_QUERIES", "BENCH_QUERIES_SF1", "BENCH_ISOLATED", "BENCH_SF100"))

    val off = lanes(Map("SPARK_GRAFT_MAIN" -> "0", "SPARK_GRAFT_SF1" -> "0",
      "SPARK_GRAFT_ISOLATED" -> "0", "SPARK_GRAFT_BENCH_REPS" -> "0"))
    assert(!off._1.on && !off._2.on && !off._3.on)
    assert(!off._4.on, "sf100 follows SPARK_GRAFT_ISOLATED when SPARK_GRAFT_SF100 is unset")
    assert(off._1.reps == 1 && off._2.reps == 1, "reps are at least 1")
    assert(lanes(Map("SPARK_GRAFT_ISOLATED" -> "0", "SPARK_GRAFT_SF100" -> "1"))._4.on)
    assert(lanes(Map("SPARK_GRAFT_ISOLATED_KEYS" -> "a, b,,c"))._3.keys == Seq("a", "b", "c"))
    assert((isoLane.keys, isoLane.reps, sf100Lane.reps) == ((Seq("k1", "k2", "k3"), 2, 1)))
  }

  test("childHeap: half of MemTotal in whole GiB, capped at the want, gated on MemAvailable") {
    assert(childHeap(meminfo16g, 16).contains("7g"))
    assert(childHeap(meminfo16g, 24).contains("7g"))
    assert(childHeap(meminfo16g, 4).contains("4g"))
    // 7g heap + 1 GiB overhead needs 8,388,608 kB available
    assert(childHeap(meminfo16g.replace("15845704", "8388607"), 16).isEmpty)
    assert(childHeap(meminfo16g.replace("15845704", "8388608"), 16).contains("7g"))
    assert(childHeap("MemTotal:       16456384 kB\n", 16).contains("7g"), "a missing MemAvailable still fits")
    assert(childHeap("", 16).contains("2g"))
    assert(childHeap("MemTotal: 2000000 kB\nMemAvailable: 4000000 kB\n", 16).contains("2g"))
  }

  /** A fake fork: `first(key)` answers the lane's own reps, `rerep(key)`
    * the re-rep width; every call is recorded. */
  private class FakeFork(first: Map[String, Row], rerep: Map[String, Row],
      firstReps: Int = isoLane.reps) extends Fork {
    val calls = scala.collection.mutable.ArrayBuffer.empty[(String, Int, String, String)]
    def apply(key: String, reps: Int, dir: String, xmx: String): Option[Row] = {
      calls += ((key, reps, dir, xmx))
      (if (reps == firstReps) first else rerep).get(key)
    }
  }

  private def run(prior: Prior, first: Map[String, Row], rerep: Map[String, Row] = Map.empty,
      build: String = "B1") = {
    val fork = new FakeFork(first, rerep)
    (runForked(isoLane, None, meminfo16g, prior, build, fork), fork.calls.toSeq)
  }

  private def verdictOf(r: LaneResult, key: String) = r.moved.toMap.get(key).map(_.verdict)

  test("forked lane: each mover verdict, and the rows it publishes") {
    val prior = Prior(Map("k1" -> Row(1.0, plan = "p"), "k2" -> Row(1.0), "k3" -> Row(1.0, plan = "old")), Some("B1"))
    val (r, calls) = run(prior,
      first = Map("k1" -> Row(2.0, Seq(2.0, 2.1), "p"), "k2" -> Row(2.0, Seq(2.0, 2.2), "p"),
        "k3" -> Row(3.0, Seq(3.0, 3.1), "new")),
      rerep = Map("k1" -> Row(2.2, Seq(2.2, 2.3, 2.4, 2.5), "p"), "k2" -> Row(2.1, Seq(2.1, 2.4, 2.5, 2.6), "p")))
    assert(r.status == "ok" && r.heap == "7g" && r.failed.isEmpty)
    // plan hash and build fingerprint both known-equal: identical code ran
    assert(verdictOf(r, "k1").contains("env"))
    // a hash-less (pre-r18) prior: the plan comparison is unknown
    assert(verdictOf(r, "k2").contains("real"))
    // a changed plan hash is attributed without a re-rep
    assert(r.moved.toMap.apply("k3") == Moved(1.0, 3.0, 3.0, None, "changed_plan"))
    // re-rep width max(4, reps + 1); every fork gets the lane dir and the host-sized heap
    assert(calls.map(c => (c._1, c._2)) == Seq("k1" -> 2, "k1" -> 4, "k2" -> 2, "k2" -> 4, "k3" -> 2))
    assert(calls.forall(c => c._3 == "/d/sf1" && c._4 == "7g"))
    // the combined min over the first and re-rep runs is published
    assert(r.rows.toMap.apply("k1") == Row(2.0, Seq(2.0, 2.1, 2.2, 2.3, 2.4, 2.5), "p"))
    assert(r.moved.toMap.apply("k1") == Moved(1.0, 2.0, 2.0, Some(Seq(2.2, 2.3, 2.4, 2.5)), "env"))
    assert(r.rows.toMap.apply("k3") == Row(3.0, Seq(3.0, 3.1), "new"))

    val wide = new FakeFork(Map("k1" -> Row(2.0, Seq(2.0), "p")), Map.empty, firstReps = 5)
    runForked(isoLane.copy(reps = 5), None, meminfo16g, prior, "B1", wide)
    assert(wide.calls.take(2).map(_._2) == Seq(5, 6))
  }

  test("forked lane: noise, unattributed, and keys that did not move") {
    val first = Map("k1" -> Row(2.0, Seq(2.0), "p"), "k2" -> Row(1.2, Seq(1.2), "p"))
    val prior = Prior(Map("k1" -> Row(1.0, plan = "p"), "k2" -> Row(1.0, plan = "p")), Some("B0"))
    // the re-rep pulls k1 back inside 1.5x
    val (noise, _) = run(prior, first, Map("k1" -> Row(1.4, Seq(1.4, 1.6, 1.7, 1.8), "p")))
    assert(verdictOf(noise, "k1").contains("noise"))
    assert(noise.rows.toMap.apply("k1").min == 1.4)
    // plan equal but the build differs: kernel bodies may have changed
    val (unattributed, _) = run(prior, first, Map("k1" -> Row(2.1, Seq(2.1), "p")))
    assert(verdictOf(unattributed, "k1").contains("unattributed"))
    // ... and so does an unknown build on either side
    assert(verdictOf(run(prior.copy(build = None), first, Map("k1" -> Row(2.1, Seq(2.1), "p")))._1, "k1")
      .contains("unattributed"))
    assert(verdictOf(run(prior.copy(build = Some("na")), first, Map("k1" -> Row(2.1, Seq(2.1), "p")),
      build = "na")._1, "k1").contains("unattributed"))
    // 1.2x is not a move: no moved entry, no re-rep
    for (r <- Seq(noise, unattributed)) {
      assert(!r.moved.toMap.contains("k2") && r.rows.toMap.apply("k2") == Row(1.2, Seq(1.2), "p"))
    }
    // a move by 1.5x or less in either direction is not a move either
    val (down, calls) = run(Prior(Map("k1" -> Row(3.0, plan = "p"))), Map("k1" -> Row(2.0, Seq(2.0), "p")))
    assert(down.moved.isEmpty && calls.count(_._1 == "k1") == 1)
  }

  test("forked lane: a dead re-rep is rerep_failed and lands in the failed set") {
    val prior = Prior(Map("k1" -> Row(1.0, plan = "p")), Some("B1"))
    val (r, _) = run(prior, Map("k1" -> Row(2.0, Seq(2.0, 2.5), "p"), "k3" -> Row(1.0, Seq(1.0), "q")))
    assert(r.moved.toMap.apply("k1") == Moved(1.0, 2.0, 2.0, Some(Nil), "rerep_failed"))
    assert(r.rows.toMap.apply("k1") == Row(2.0, Seq(2.0, 2.5), "p"))
    // k2's first fork died: no row; both land in failed, in key order
    assert(r.failed == Seq("k1", "k2"))
    assert(r.rows.map(_._1) == Seq("k1", "k3"))
  }

  test("forked lane: disabled, gated, host-skipped and failed lanes") {
    val never: Fork = (_, _, _, _) => fail("no fork expected")
    assert(runForked(isoLane.copy(on = false), None, meminfo16g, Prior(), "B1", never) ==
      LaneResult(isoLane.copy(on = false), "disabled", heap = "16g"))
    assert(runForked(isoLane, Some("skipped_no_sf1"), meminfo16g, Prior(), "B1", never).status == "skipped_no_sf1")
    val short = runForked(sf100Lane, None, meminfo16g.replace("15845704", "1000000"), Prior(), "B1", never)
    assert((short.status, short.heap) == (("skipped_host", "24g")))
    val broken = runForked(isoLane, None, meminfo16g, Prior(), "B1",
      (_, _, _, _) => throw new IllegalStateException("no child classpath"))
    assert((broken.status, broken.heap, broken.rows) == (("failed", "7g", Nil)))
  }

  private def withFile(body: String)(f: String => Unit): Unit = {
    val p = java.nio.file.Files.createTempFile("bench_prior_", ".json")
    try { java.nio.file.Files.writeString(p, body); f(p.toString) }
    finally java.nio.file.Files.delete(p)
  }

  test("parsePrior reads the scalar and object forms, and treats an unreadable file as no prior") {
    withFile("""{"status":"ok","queries":{"a":1.234,"b":2},"failed":[]}""") { p =>
      assert(parsePrior(p) == Prior(Map("a" -> Row(1.234), "b" -> Row(2.0)), None))
    }
    withFile("""{"build":"812xab","queries":{"a":{"min":1.5,"runs":[1.5,1.6],"plan":"ff"},""" +
        """"b":{"min":0.25,"runs":[0.25]},"c":{"runs":[1.0]}},"moved":{}}""") { p =>
      assert(parsePrior(p) == Prior(Map("a" -> Row(1.5, Seq(1.5, 1.6), "ff"), "b" -> Row(0.25, Seq(0.25))),
        Some("812xab")))
    }
    withFile("""{"build":"na","queries":{"a":{"min":1.5,"plan":"ff"}}}""") { p =>
      assert(parsePrior(p).build.isEmpty)
    }
    withFile("""{"queries":{"a":""") { p => assert(parsePrior(p) == Prior()) }
    assert(parsePrior("target/bench-spec-no-such-file.json") == Prior())
  }

  test("parseTimeOne reads the child's timeone line for its key") {
    val out = Seq(
      "[timeone] k1 run1: 1.23 s",
      """{"metric":"timeone","key":"k0","min":9.000,"runs":[9.000],"plan":"00"}""",
      """{"metric":"timeone","key":"k1","min":1.230,"runs":[1.230,1.500],"plan":"ab12"}""",
      """{"metric":"timeone","key":"k2","min":2.000,"runs":[],"plan":"na"}""").mkString("\n")
    assert(parseTimeOne(out, "k1").contains(Row(1.23, Seq(1.23, 1.5), "ab12")))
    assert(parseTimeOne(out, "k2").contains(Row(2.0, Seq(2.0), "na")))
    assert(parseTimeOne(out, "k3").isEmpty)
    assert(parseTimeOne("""{"metric":"timeone","key":"k1","runs":[1.0]}""", "k1").isEmpty)
  }

  private val isoProtocol = "keys whose min moved >1.5x vs the prior artifact are auto-re-repped (4+ reps) and adjudicated in `moved`: noise | env (plan hash AND build fingerprint both KNOWN-equal - identical code ran, so host state) | unattributed (plan equal but build differs/unknown - kernel bodies may have changed under an unmoved logical plan) | real (plan comparison unknown) | changed_plan | rerep_failed"

  test("golden outputs: a full run with every lane publishing") {
    val out = render(
      LaneResult(mainLane, "ok", Seq("a" -> Row(1.0005), "b" -> Row(12.3456)), Seq("b")),
      LaneResult(sf1Lane, "ok", Seq("q1" -> Row(2.5))),
      LaneResult(isoLane, "ok",
        Seq("k1" -> Row(0.9996, Seq(0.9996, 1.2), "abcd"), "k3" -> Row(3.0, Seq(3.0), "ef01")), Seq("k2"),
        Seq("k1" -> Moved(2.0, 0.9996, 2.005, Some(Seq(1.0005)), "real"),
          "k3" -> Moved(1.0, 3.0, 3.0, None, "changed_plan")), "7g"),
      LaneResult(sf100Lane, "ok", Seq("x_text_stats" -> Row(45.0, Seq(45.0), "na")), heap = "7g"),
      "3", narrowed = false, "abc1234", "812x0011223344556677")
    assert(out.lines == Seq(
      """{"metric":"per_query","unit":"sec","queries":{"a":1.001,"b":12.346},"failed":["b"],"sf":"/d/sf"}""",
      """{"metric":"per_query_sf1","unit":"sec","queries":{"q1":2.500},"failed":[],"sf":"/d/sf1"}"""))
    val full = """{"metric":"full","sf":"/d/sf","total":13.346,"unit":"sec","nqueries":2,"nfailed":1,""" +
      """"queries":{"a":1.001,"b":12.346},"failed":["b"],""" +
      """"sf1":{"status":"ok","dir":"/d/sf1","total":2.500,"queries":{"q1":2.500},"failed":[]}}"""
    val iso = """{"status":"ok","dir":"/d/sf1","reps":2,"commit":"abc1234","build":"812x0011223344556677",""" +
      s""""protocol":"fresh JVM per key via graft.tools.TimeOne (local[8], 7g heap), min of 2 reps; $isoProtocol",""" +
      """"queries":{"k1":{"min":1.000,"runs":[1.000,1.200],"plan":"abcd"},"k3":{"min":3.000,"runs":[3.000],"plan":"ef01"}},""" +
      """"moved":{"k1":{"prev":2.000,"min":1.000,"ratio":2.01,"plan_changed":false,"rerep_runs":[1.001],"verdict":"real"},""" +
      """"k3":{"prev":1.000,"min":3.000,"ratio":3.00,"plan_changed":true,"verdict":"changed_plan"}},""" +
      """"failed":["k2"]}"""
    val sf100 = """{"status":"ok","dir":"/d/sf100","reps":1,"commit":"abc1234","build":"812x0011223344556677",""" +
      """"protocol":"standing deep-octave lane over the data-dominated heavies (21 GB sf100 GenScale fixture, 100x the contract sf); """ +
      """same fresh-JVM TimeOne protocol and mover adjudication as BENCH_ISOLATED.json, 7g child heap; read min vs the sf1 lane for the two-decade slope",""" +
      """"queries":{"x_text_stats":{"min":45.000,"runs":[45.000],"plan":"na"}},"moved":{},"failed":[]}"""
    assert(out.files == Seq(
      "BENCH_QUERIES.json" -> """{"a":1.001,"b":12.346}""",
      "BENCH_QUERIES_SF1.json" -> """{"q1":2.500}""",
      "BENCH_FULL.json" -> full, "BENCH_FULL.local3.json" -> full,
      "BENCH_ISOLATED.json" -> iso, "BENCH_ISOLATED.local3.json" -> iso,
      "BENCH_SF100.json" -> sf100, "BENCH_SF100.local3.json" -> sf100))
    assert(out.last == """{"metric":"total","value":13.346,"unit":"sec","sf":"/d/sf","nqueries":2,"nfailed":1,""" +
      """"sf1":"ok","sf1_total":2.500,"sf1_nqueries":1,"sf1_nfailed":0,"sf1_dir":"/d/sf1",""" +
      """"isolated":"ok","isolated_nqueries":2,"isolated_nfailed":1,"isolated_nmoved":2,""" +
      """"sf100":"ok","sf100_nqueries":1,"sf100_nfailed":0,"sf100_nmoved":0,""" +
      """"per_query_file":"BENCH_FULL.json","isolated_file":"BENCH_ISOLATED.json","sf100_file":"BENCH_SF100.json"}""")
  }

  test("golden outputs: a narrowed run with no sf1 rows and no sf100 fixture") {
    val out = render(
      LaneResult(mainLane.copy(on = false), "disabled"),
      LaneResult(sf1Lane, "failed"),
      LaneResult(isoLane, "skipped_no_sf1", heap = "16g"),
      LaneResult(sf100Lane, "no_fixture", heap = "24g"),
      "3", narrowed = true, "unknown", "na")
    assert(out.lines == Seq("""{"metric":"per_query","unit":"sec","queries":{},"failed":[],"sf":"/d/sf"}"""))
    val full = """{"metric":"full","sf":"/d/sf","total":0.000,"unit":"sec","nqueries":0,"nfailed":0,""" +
      """"queries":{},"failed":[],"sf1":{"status":"failed","dir":"/d/sf1","total":0.000,"queries":{},"failed":[]}}"""
    val iso = """{"status":"skipped_no_sf1","dir":"/d/sf1","reps":2,"commit":"unknown","build":"na",""" +
      s""""protocol":"fresh JVM per key via graft.tools.TimeOne (local[8], 16g heap), min of 2 reps; $isoProtocol",""" +
      """"queries":{},"moved":{},"failed":[]}"""
    assert(out.files == Seq(
      "BENCH_QUERIES.partial.json" -> "{}",
      "BENCH_FULL.partial.json" -> full, "BENCH_FULL.local3.partial.json" -> full,
      "BENCH_ISOLATED.partial.json" -> iso, "BENCH_ISOLATED.local3.partial.json" -> iso))
    assert(out.last == """{"metric":"total","value":0.000,"unit":"sec","sf":"/d/sf","nqueries":0,"nfailed":0,""" +
      """"sf1":"failed","sf1_total":0.000,"sf1_nqueries":0,"sf1_nfailed":0,"sf1_dir":"/d/sf1",""" +
      """"isolated":"skipped_no_sf1","isolated_nqueries":0,"isolated_nfailed":0,"isolated_nmoved":0,""" +
      """"sf100":"no_fixture","sf100_nqueries":0,"sf100_nfailed":0,"sf100_nmoved":0,""" +
      """"per_query_file":"BENCH_FULL.partial.json","isolated_file":"BENCH_ISOLATED.partial.json",""" +
      """"sf100_file":"BENCH_SF100.partial.json"}""")
    // a failed sf100 lane still publishes
    assert(render(LaneResult(mainLane, "ok"), LaneResult(sf1Lane, "ok"), LaneResult(isoLane, "ok", heap = "7g"),
      LaneResult(sf100Lane, "failed", heap = "7g"), "8", narrowed = false, "c", "b")
      .files.map(_._1).contains("BENCH_SF100.local8.json"))
  }
}
