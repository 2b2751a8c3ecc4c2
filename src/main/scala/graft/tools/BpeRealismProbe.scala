package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Bpe, TextFunctions}

/** BPE realism instrumentation over the [[GenText]] fixture (round-19
  * judge ask #5). The contract corpus (31 distinct words) caps the
  * trainable merge table at 89, so the shipped 78-merge pin is the
  * fixture's honest tractability bound — this probe measures what the
  * budget keys look like when the vocabulary is realistic:
  *
  *  1. TRAIN on a bounded slice of the GenText fixture and print the
  *     merges → weighted tokens/word curve at caps 78…1024 (the
  *     SCALE_CURVE.md round-18 curve, on a corpus where ≥512 merges are trainable
  *     — each smaller table is a PREFIX of the largest, merges are
  *     learned in order).
  *  2. KERNEL-COST curve: same fixture, same corpus scan, merge tables
  *     of size 78/128/256/512/1024 — isolates the encode kernel's
  *     O(merges × word-length) term from everything else. This is the
  *     100 TB question a toy vocabulary can't ask: a production ~32k
  *     vocab multiplies the per-word merge loop 400×, and the memo
  *     only amortizes it per DISTINCT word per executor.
  *  3. INTERLEAVED A/B/C at sf10 on the budget keys:
  *       A = standard GenScale sf10, shipped keys (pin-78) — the
  *           committed baseline protocol;
  *       B = GenText sf10, shipped keys (pin-78) — fixture effect
  *           alone (same doc/token structure, realistic vocabulary);
  *       C = GenText sf10, the keys' exact frames under the trained
  *           ≥512-merge table — fixture + realistic pin.
  *     Lanes interleave per rep (A,B,C,A,B,C) so host drift lands on
  *     every lane equally; MIN per lane is the number of record.
  *
  * Also prints the realism stats the budgets depend on (tokens/word,
  * bins, sequences) per lane. Protocol: local[8], 8 shuffle
  * partitions, SPARK_GRAFT_REPS reps (default 2) — the isolated-lane
  * protocol, so lane A is directly comparable to BENCH_ISOLATED rows.
  *
  * Env: SPARK_GRAFT_SF10_DIR (default target/scale/sf10),
  * SPARK_GRAFT_TEXT_DIR (default target/scale/sf10_text).
  */
object BpeRealismProbe {
  def main(args: Array[String]): Unit = {
    val stdDir = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "target/scale/sf10")
    val textDir = sys.env.getOrElse("SPARK_GRAFT_TEXT_DIR", "target/scale/sf10_text")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = Session.fromEnv.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    import Hygiene.force
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // ---- 1. train on a bounded GenText slice; merges -> tokens/word
    val caps = Seq(78, 128, 256, 512, 1024)
    val vocab = Bpe.sliceVocab(spark, textDir, 5000L)
    val nWords = vocab.map(_._2).sum.toDouble
    println(s"[bperealism] slice vocab: ${vocab.size} distinct words, " +
      s"${nWords.toLong} instances")
    val trained = Bpe.train(vocab, caps.max)
    println(s"[bperealism] trainable merges on slice: ${trained.size} " +
      s"(stop = best pair < 2)")
    caps.filter(_ <= trained.size).foreach { m =>
      val tab = trained.take(m)
      val toks = vocab.map { case (w, f) => Bpe.tokenCount(w, tab) * f }.sum
      println(f"[bperealism] merges=$m%4d  tokens/word=${toks / nWords}%.3f")
    }
    val m512 = trained.take(512)
    require(m512.size >= 512,
      s"GenText slice trained only ${trained.size} merges — enlarge slice/vocab")
    // dump the trained table for the DuckDB-side oracle-tractability
    // measurement (tools/bpe_oracle_ceiling.py: the twin CTE is
    // distinct-words × merges, so the richer pin grows the ORACLE too)
    locally {
      val f = new java.io.File("target/scale/bpe_text_merges.tsv")
      f.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(f, "UTF-8")
      try trained.foreach { case (a, b) => w.println(s"$a\t$b") }
      finally w.close()
      println(s"[bperealism] merges dumped: ${f.getPath}")
    }
    if (sys.env.get("SPARK_GRAFT_BPE_DUMP_ONLY").contains("1")) {
      spark.stop(); return
    }

    // ---- 2. kernel-cost curve: same scan, growing merge table
    val textDocs = graft.Tables.load(spark, textDir, "documents")
    caps.filter(_ <= trained.size).foreach { m =>
      val walls = (1 to reps).map { _ =>
        time(force(textDocs.select(
          TextFunctions.bpeTokenCountWith(col("text"), trained.take(m))
            .as("t")).agg(sum("t"))))
      }
      println(f"[bperealism] kernel merges=$m%4d  min=${walls.min}%6.2f s" +
        s"  runs=${walls.map(w => f"$w%.2f").mkString(",")}")
    }

    // ---- 3. interleaved A/B/C on the budget keys
    // C rebuilds the shipped frames (ExtQueries.packBudget/seqPack)
    // with the merge table as the only delta
    def packC(dir: String): DataFrame =
      graft.operators.Sampling.packBudget(
          graft.Tables.load(spark, dir, "documents")
            .withColumn("bpe_tokens",
              TextFunctions.bpeTokenCountWith(col("text"), m512)),
          "source", "doc_id", "bpe_tokens", 2500L)
        .groupBy("source")
        .agg(countDistinct(col("bin")).as("n_bins"), count(lit(1)).as("n_docs"),
          max(col("bin")).cast("long").as("max_bin"))
        .orderBy("source")
    def seqC(dir: String): DataFrame =
      graft.operators.Sampling.packSequences(
          graft.Tables.load(spark, dir, "documents")
            .withColumn("__tokp1",
              coalesce(TextFunctions.bpeTokenCountWith(col("text"), m512),
                lit(0)) + 1),
          "source", "doc_id", "__tokp1", 512L)
        .orderBy("source", "seq_id")
    val lanes: Seq[(String, String, () => DataFrame, () => DataFrame)] = Seq(
      ("A_std_pin78", stdDir,
        () => graft.SparkEntry.queries("x_pack_budget")(spark, stdDir),
        () => graft.SparkEntry.queries("x_seq_pack")(spark, stdDir)),
      ("B_text_pin78", textDir,
        () => graft.SparkEntry.queries("x_pack_budget")(spark, textDir),
        () => graft.SparkEntry.queries("x_seq_pack")(spark, textDir)),
      ("C_text_pin512", textDir, () => packC(textDir), () => seqC(textDir)))

    force(graft.SparkEntry.entry(spark)) // JIT warmup
    val walls = scala.collection.mutable.Map.empty[(String, String), List[Double]]
    (1 to reps).foreach { rep =>
      lanes.foreach { case (lane, _, pack, seq) =>
        val wp = time(force(pack()))
        val ws = time(force(seq()))
        walls((lane, "pack")) = wp :: walls.getOrElse((lane, "pack"), Nil)
        walls((lane, "seq")) = ws :: walls.getOrElse((lane, "seq"), Nil)
        println(f"[bperealism] rep$rep $lane%-14s pack=$wp%6.2f s  seq=$ws%6.2f s")
        spark.catalog.clearCache(); Hygiene.sweepTmp(); System.gc()
      }
    }
    lanes.foreach { case (lane, _, _, _) =>
      println(f"[bperealism] MIN $lane%-14s " +
        f"pack=${walls((lane, "pack")).min}%6.2f s  " +
        f"seq=${walls((lane, "seq")).min}%6.2f s")
    }

    // ---- realism stats per lane (what the budgets MEAN)
    lanes.foreach { case (lane, dir, pack, seq) =>
      val merges = if (lane.endsWith("512")) m512 else Bpe.pinnedMerges
      val d = graft.Tables.load(spark, dir, "documents")
      val st = d.select(
        sum(TextFunctions.bpeTokenCountWith(col("text"), merges)).as("bpe"),
        sum(size(TextFunctions.tokens(col("text")))).as("ws")).head()
      val bins = pack().agg(sum("n_bins")).head().getLong(0)
      val seqs = seq().count()
      println(f"[bperealism] STATS $lane%-14s tokens/word=" +
        f"${st.getLong(0).toDouble / st.getLong(1)}%.3f  " +
        s"bins=$bins seqs=$seqs")
    }
    spark.stop()
  }
}
