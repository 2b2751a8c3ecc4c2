package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Before/after harness for the round-17 codegen question: the text
  * kernels on the dedup hot path (WordShingles / WordShingleHashes /
  * MinHashSig / SimHash64 / Md5SimHash64 / RollingHash64 / LshSignBits)
  * are monolithic per-row loops that ran as `CodegenFallback` — the
  * per-row cost of the fallback is an interpreted `eval` dispatch plus
  * materializing the incoming UnsafeRow for it, inside spans that are
  * otherwise whole-stage generated. This probe times each kernel as a
  * bare projection (forced through a noop write, min of 3 reps) at the
  * given fixture dirs; running it before and after a `doGenCode` port
  * is the measurement that decides whether the port is wall-visible
  * (SCALE_CURVE.md records both).
  *
  * Usage: runMain graft.tools.KernelProbe <dir> [dir2 ...]
  */
object KernelProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-kernelprobe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val T = graft.functions.TextFunctions
    val G = graft.plans.GraftExpressions

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    for (dir <- args) {
      println(s"[kernelprobe] ==== $dir ====")
      val docs = graft.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val emb = graft.Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val pipelines: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
        "scan_only(docs baseline)" -> docs.select(length(col("text")).as("o")),
        "tokens(WordShingles n=1)" -> docs.select(T.tokens(col("text")).as("o")),
        "shingle_set(WordShingles n=3)" -> docs.select(T.shingleSet(col("text"), 3).as("o")),
        "shingle_hashes(WordShingleHashes n=3)" -> docs.select(T.shingleHashes(col("text"), 3).as("o")),
        "minhash128(MinHashSig)" ->
          docs.select(T.minhashSignature(T.shingleSet(col("text"), 3), 128).as("o")),
        "simhash_xx(SimHash64)" -> docs.select(T.simhash64(T.tokens(col("text"))).as("o")),
        "simhash_md5(Md5SimHash64)" -> docs.select(T.simhashMd5(T.tokens(col("text"))).as("o")),
        "rolling(RollingHash64)" -> docs.select(T.rollingHash(col("text")).as("o")),
        "lsh_bits16(LshSignBits)" ->
          emb.select(G.lshBits(col("embedding"), 16).as("o")))
      pipelines.foreach { case (name, df) =>
        val runs = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          force(df)
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[kernelprobe] $name min=${runs.min}%.2f s runs=${runs.map(r => f"$r%.2f").mkString("/")}")
      }
    }
    spark.stop()
  }
}
