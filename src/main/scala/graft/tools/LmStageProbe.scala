package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-stage attribution of `x_lm_score` (round-19 judge ask #4): the
  * heaviest measured sf100 key (150.9 s) is a model-then-score shape —
  * three corpus passes (bigram counts, unigram dictionary, scoring
  * instances) plus two dictionary joins and the per-doc aggregation.
  * This probe times the real stages (via [[graft.operators.NgramLm
  * .stageFrames]], the scorer's own frame definitions) so the key's
  * three-decade linearity claim carries a per-stage floor and a future
  * mover is read against a STAGE, not the composite:
  *
  *  - `pairs_pass`     — tokenize + zip + explode of the bigram
  *                       instances: one corpus scan through the kernel,
  *                       the unit cost every other stage embeds.
  *  - `bigram_model`   — the (w1,w2)->count aggregation (embeds one
  *                       pairs pass; map-combinable).
  *  - `unigram_dict`   — the token->count dictionary, PINNED exactly as
  *                       the scorer pins it (localCheckpoint + the V
  *                       count that materializes it).
  *  - `full_key`       — the shipped `x_lm_score` contract query.
  *
  * Derived (printed per rep): `score_apply = full − bigram_model −
  * unigram_dict` (the scoring pass: pairs recompute + two probe joins +
  * doc agg) and `join_overhead = score_apply − pairs_pass` (what the
  * joins/agg add beyond the shared scan).
  *
  * Protocol: local[8], 8 shuffle partitions (SPARK_GRAFT_SHUFFLE
  * overrides — at sf100 size the dictionary aggregations want more
  * tasks, same knob rationale as TimeOne's), SPARK_GRAFT_REPS reps
  * (default 2).
  */
object LmStageProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/scale/sf1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8"))
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def force(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // JIT/codegen warmup on the small contract fixture, like Bench's
    force(graft.SparkEntry.entry(spark))

    (1 to reps).foreach { rep =>
      val docs = graft.Tables.load(spark, dir, "documents")
      val (pairs, big, uni) = graft.operators.NgramLm.stageFrames(
        docs, "doc_id", "text")
      def t(label: String)(f: => Unit): Double = {
        val t0 = System.nanoTime()
        f
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[lmstage] rep$rep $label%-14s $dt%7.2f s")
        dt
      }
      val tp = t("pairs_pass")(force(pairs))
      val tb = t("bigram_model")(force(big))
      val tu = t("unigram_dict") {
        val pinned = uni.localCheckpoint(false)
        pinned.count(): Unit
      }
      spark.catalog.clearCache()
      val tf = t("full_key")(
        force(graft.SparkEntry.queries("x_lm_score")(spark, dir)))
      val apply = tf - tb - tu
      println(f"[lmstage] rep$rep score_apply    $apply%7.2f s (derived)")
      println(f"[lmstage] rep$rep join_overhead  ${apply - tp}%7.2f s (derived)")
      println(s"""{"metric":"lmstage","rep":$rep,""" +
        f""""pairs_pass":$tp%.2f,"bigram_model":$tb%.2f,""" +
        f""""unigram_dict":$tu%.2f,"full_key":$tf%.2f,""" +
        f""""score_apply":$apply%.2f,"sf":"$dir"}""")
      spark.catalog.clearCache()
      Hygiene.sweepTmp()
      System.gc()
    }
    spark.stop()
  }
}
