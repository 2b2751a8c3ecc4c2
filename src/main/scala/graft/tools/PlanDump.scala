package graft.tools

/** Dev tool: write each declared query's `explain("formatted")` to
  * `plans/<tag>/<key>_<suffix>.txt` so optimization rounds can commit
  * before/after plan evidence (Exchange count, join strategy,
  * PushedFilters/ReadSchema, codegen spans) next to the code.
  *
  * Usage: runMain graft.tools.PlanDump <tag> <suffix> [key ...]
  * (no keys = every key in SparkEntry.queries). Env knobs match
  * TimeOne so the captured plans are the ones the isolated lane runs:
  * SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS (8),
  * SPARK_GRAFT_SHUFFLE (8).
  *
  * NOTE: for keys whose builder performs eager work (writes,
  * streaming), the captured plan is the RETURNED DataFrame's — the
  * read-back side of the contract. Internal write-stage plans are
  * audited by `WritePlanAuditSpec` and timed by lakebench's traced
  * lake_ingest runs.
  *
  * Every dump goes through [[normalize]], so `diff -r plans/<a>
  * plans/<b>` lists exactly the keys whose plans differ.
  */
object PlanDump {
  /** `plan` with every value that differs between two runs of the same
    * plan replaced by a placeholder: expression ids, RDD ids, exchange
    * `plan_id`s, query and Spark temp dir names, test temp dir suffixes
    * and part-file UUIDs. In a formatted plan, each `Expand` node's
    * projections are sorted: the order of a distinct aggregate's groups
    * follows the hash order of a set keyed by expression ids, so it can
    * change with how many expressions the JVM made before.
    * [[TimeOne.planHash]] hashes the same form of the optimized plan. */
  def normalize(plan: String): String = sortExpandProjections(plan
    .replaceAll("#[0-9]+", "#x")
    .replaceAll("RDD\\[[0-9]+\\]", "RDD[x]")
    .replaceAll("plan_id=[0-9]+", "plan_id=x")
    .replaceAll("graft_q_[A-Za-z0-9_]+", "<QTMP>")
    .replaceAll("/tmp/spark-[0-9a-fA-F-]+", "<SPARKTMP>")
    .replaceAll("(graft_[a-z_]+)[0-9]{6,}", "$1<N>")
    .replaceAll("part-[0-9]+-[0-9a-f-]{36}", "part-<UUID>"))

  /** The `Arguments: [[p1], [p2], ...], [output]` line of every `(n)
    * Expand` node of a formatted plan with its projections in sorted
    * order; every other line as it is. */
  private def sortExpandProjections(plan: String): String = {
    var inExpand = false
    plan.split("\n", -1).map { ln =>
      if (ln.startsWith("(")) inExpand = ln.matches("\\([0-9]+\\) Expand.*")
      val args = "Arguments: "
      if (!inExpand || !ln.startsWith(args + "[[")) ln
      else {
        // cut the outer list at its top-level commas, brackets and
        // parentheses nesting
        var depth = 0
        var end = -1
        val cuts = scala.collection.mutable.ArrayBuffer(args.length)
        var i = args.length
        while (end < 0 && i < ln.length) {
          ln(i) match {
            case '[' | '(' => depth += 1
            case ']' | ')' => depth -= 1; if (depth == 0) end = i
            case ',' if depth == 1 => cuts += i
            case _ =>
          }
          i += 1
        }
        if (end < 0) ln
        else {
          val items = cuts.zip(cuts.drop(1) :+ end).map { case (a, b) => ln.substring(a + 1, b).trim }
          args + items.sorted.mkString("[", ", ", "]") + ln.substring(end + 1)
        }
      }
    }.mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <tag> <suffix> [key ...]")
    val tag = args(0); val suffix = args(1)
    val keys = if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.fromEnv.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(outDir)
    keys.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
          normalize(txt).getBytes("UTF-8"))
        println(s"[plandump] $n ok")
      } catch { case e: Throwable =>
        println(s"[plandump] $n FAILED: $e")
      }
      spark.catalog.clearCache()
      Hygiene.sweepTmp()
    }
    spark.stop()
  }
}
