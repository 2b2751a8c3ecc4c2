package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-level probe for the x_dedup_ngram sf30 super-linearity
  * (round 15): counts and times each stage of
  * [[graft.operators.Dedup.ngramJaccardPairsPrefix]] separately so the
  * 6.94×-for-3× wall can be attributed — candidate volume (is Σbucket²
  * still linear?), verify-join strategy (did the docs side fall off the
  * broadcast threshold?), or shuffle spill (fixed 32 partitions).
  *
  * Usage: runMain graft.tools.NgramProbe <dir1> <dir2> ...
  */
object NgramProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .appName("graft-ngramprobe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.plans.GraftExpressions

    def timed[T](what: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    for (dir <- args) {
      println(s"[probe] ==== $dir ====")
      val n = 3; val threshold = 0.8
      val docsRaw = graft.Tables.load(spark, dir, "documents")
      val docs = docsRaw.select(col("doc_id").cast("long").as("id"),
        graft.functions.TextFunctions.shingleHashes(col("text"), n).as("sh"))
        .localCheckpoint(true)
      val posting = docs.select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
      val dfreq = posting.groupBy("s").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("df"), col("s"))
      val prefix = timed("prefix build") {
        posting.join(dfreq, Seq("s"))
          .withColumn("__pos", row_number().over(w))
          .filter(col("__pos") <= col("sz") - ceil(col("sz") * threshold) + 1)
          .select(col("s"), col("id"))
          .localCheckpoint(true)
      }
      println(s"[probe] docs=${docs.count()} postingRows=${posting.count()} prefixRows=${prefix.count()}")
      val vol = timed("bucket volume") {
        prefix.groupBy("s").count()
          .agg(sum((col("count") * (col("count") - 1) / 2).cast("long")))
          .collect()(0).getLong(0)
      }
      println(s"[probe] prefix pair volume (sum C(bucket,2)) = $vol")
      val cands = timed("candidates build") {
        prefix.as("a").join(prefix.as("b"), Seq("s"))
          .filter(col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .distinct()
          .localCheckpoint(true)
      }
      println(s"[probe] candidates=${cands.count()}")
      val verified = timed("verify join") {
        val v = cands
          .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
          .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
          .withColumn("__inter",
            GraftExpressions.intersectCount(col("sh_a"), col("sh_b")))
          .withColumn("jaccard",
            col("__inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("__inter")))
          .filter(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b"), col("jaccard"))
        println("[probe] verify plan:")
        v.queryExecution.executedPlan.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
            println(s"[probe]   SMJ on ${j.leftKeys.mkString(",")}")
          case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
            println(s"[probe]   BHJ on ${j.leftKeys.mkString(",")}")
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
            println(s"[probe]   SHJ on ${j.leftKeys.mkString(",")}")
        }
        v.write.format("noop").mode("overwrite").save()
        v
      }
      val _ = verified
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
