package graft.tools

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Temp-dir hygiene is per process: the sweep after each timed rep must
  * delete this process's query temp dirs and leave every other
  * process's alone, or two graft mains on one host delete each other's
  * live datasets mid-query. */
class HygieneSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("sweepTmp deletes this process's query temp dirs and keeps another pid's") {
    val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))
    val pid = ProcessHandle.current().pid()
    val own = Hygiene.queryTmp("sweep_own")
    Files.createDirectories(own.resolve("ds"))
    assert(own.getFileName.toString.startsWith(s"graft_q_${pid}_sweep_own"), own)
    // another pid whose digits start with ours: the sweep must match the
    // whole pid, not a prefix of it
    val other = Files.createTempDirectory(tmpRoot, s"graft_q_${pid}1_sweep_other")
    Files.createDirectories(other.resolve("ds"))
    try {
      Hygiene.sweepTmp()
      assert(!Files.exists(own), s"$own survived its own process's sweep")
      assert(Files.exists(other.resolve("ds")), s"the sweep deleted another process's $other")
    } finally {
      Files.deleteIfExists(other.resolve("ds"))
      Files.deleteIfExists(other)
    }
  }

  test("TimeOne's plan hash normalizes query temp dir names out") {
    def planOf(name: String): String = {
      val dir = Hygiene.queryTmp(name).resolve("ds").toString
      spark.range(3).write.parquet(dir)
      TimeOne.planHash(spark.read.parquet(dir))
    }
    val (a, b) = (planOf("hash_"), planOf("hash_"))
    assert(a != "na" && a == b, s"$a vs $b")
    Hygiene.sweepTmp()
  }

  test("PlanDump.normalize: two runs of one plan dump equal, a changed plan does not") {
    val dir = Hygiene.queryTmp("norm_").resolve("ds").toString
    spark.range(10).selectExpr("id AS a", "id * 2 AS b").write.parquet(dir)
    def query(c: String) = spark.read.parquet(dir).selectExpr(s"$c AS c").groupBy("c").count()
    def dump(c: String) = query(c).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val (first, second) = (dump("a - b"), dump("a - b"))
    assert(first != second, "two dumps were equal before normalizing")
    assert(first.contains("plan_id=") && first.contains("graft_q_"), first)
    assert(PlanDump.normalize(first) == PlanDump.normalize(second))
    assert(PlanDump.normalize(first) != PlanDump.normalize(dump("b - a")))
    assert(TimeOne.planHash(query("a - b")) == TimeOne.planHash(query("a - b")))
    assert(TimeOne.planHash(query("a - b")) != TimeOne.planHash(query("b - a")))
    Hygiene.sweepTmp()
  }

  test("PlanDump.normalize: an Expand's projection order does not matter, its projections do") {
    val dump = spark.range(20).selectExpr("id % 3 AS g", "id % 5 AS a", "id % 7 AS b")
      .groupBy("g").agg(org.apache.spark.sql.functions.countDistinct("a"),
        org.apache.spark.sql.functions.countDistinct("b")).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val args = dump.split("\n").dropWhile(!_.matches("\\([0-9]+\\) Expand")).find(_.startsWith("Arguments: [["))
    assert(args.isDefined, dump)
    // the same plan with its projections reversed, as another order of
    // the distinct groups prints it
    val line = args.get
    val projections = line.substring("Arguments: [".length, line.indexOf("]], [") + 1)
    val split = projections.split("(?<=\\]), (?=\\[)").toSeq
    assert(split.size >= 2, projections)
    val swapped = line.replace(projections, split.reverse.mkString(", "))
    assert(swapped != line && swapped.length == line.length)
    val other = dump.replace(line, swapped)
    assert(PlanDump.normalize(other) == PlanDump.normalize(dump))
    // a projection that changed still shows
    val changed = dump.replace(line, line.replaceFirst("\\[\\[", "[[null, "))
    assert(PlanDump.normalize(changed) != PlanDump.normalize(dump))
  }
}
