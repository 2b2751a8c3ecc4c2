package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.functions.{Bpe, TextFunctions}

/** The BPE realism lane (round-19 ask #5) is only as honest as its
  * fixture twin: the A/B claim "only the vocabulary changed" assumes
  * GenText preserves everything the budget keys depend on. This spec
  * generates a real twin from the sf0.001 documents and proves:
  *
  *  - determinism: two runs produce bit-identical text
  *  - per-document token counts are EXACTLY preserved (the budget
  *    keys' packing input), and doc_id/lang/source ride unchanged
  *  - null text stays null; n_chars matches the regenerated text
  *  - the lexicon is distinct, rank-ordered by (length, word) (the
  *    law of abbreviation: frequent ⇒ short), and deterministic
  *  - the sampled corpus is Zipf-shaped (top word ≫ median word) and
  *    vocabulary-diverse enough to train ≥512 merges at realistic
  *    corpus sizes (the whole point — the 31-word contract corpus
  *    caps at 89)
  */
class GenTextSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val src = "/root/testdata/sf0.001"
  private lazy val out: String = {
    val dir = "target/gentext-spec/twin"
    GenText.generate(spark, src, dir, 2000)
    dir
  }
  private def docs(dir: String) = graft.Tables.load(spark, dir, "documents")

  test("lexicon is deterministic, distinct, and length-rank-ordered") {
    val a = GenText.lexicon(500)
    val b = GenText.lexicon(500)
    assert(a.toSeq == b.toSeq)
    assert(a.distinct.length == 500)
    assert(a.forall(_.nonEmpty))
    // rank 1 (most frequent) is the shortest word
    assert(a.toSeq == a.toSeq.sortBy(w => (w.length, w)))
  }

  test("generation is deterministic") {
    val dir2 = "target/gentext-spec/twin2"
    GenText.generate(spark, src, dir2, 2000)
    val d1 = docs(out).select("doc_id", "text").orderBy("doc_id").collect()
    val d2 = docs(dir2).select("doc_id", "text").orderBy("doc_id").collect()
    assert(d1.toSeq == d2.toSeq)
  }

  test("per-document token counts and carried columns are preserved") {
    val s = docs(src).select(col("doc_id"), col("lang"), col("source"),
      size(TextFunctions.tokens(col("text"))).as("n"),
      col("text").isNull.as("wasNull"))
    val t = docs(out).select(col("doc_id").as("doc_id2"), col("lang").as("lang2"),
      col("source").as("source2"),
      size(TextFunctions.tokens(col("text"))).as("n2"),
      col("text").isNull.as("isNull2"),
      col("n_chars").as("nc2"), length(col("text")).as("len2"))
    val j = s.join(t, col("doc_id") === col("doc_id2"), "full")
    assert(j.filter(col("doc_id").isNull || col("doc_id2").isNull).count() == 0)
    assert(j.filter(col("n") =!= col("n2")).count() == 0)
    assert(j.filter(!(col("lang") <=> col("lang2")) ||
      !(col("source") <=> col("source2"))).count() == 0)
    assert(j.filter(col("wasNull") =!= col("isNull2")).count() == 0)
    assert(j.filter(!(col("nc2") <=> col("len2"))).count() == 0)
  }

  test("corpus is Zipf-shaped and trains past the contract fixture's cap") {
    val freqs = docs(out)
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .groupBy("w").count().orderBy(desc("count"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // realistic head weight: the top word alone carries well over 20x
    // the median word's mass
    val median = freqs(freqs.length / 2)._2
    assert(freqs.head._2 > 20 * median,
      s"top=${freqs.head} median=$median — not Zipf-shaped")
    // hundreds of distinct words even from the 50-doc sf0.001 slice
    assert(freqs.length > 300, s"only ${freqs.length} distinct words")
    // and the trainer gets real subword structure: >= 512 merges are
    // trainable from this tiny slice already (vs 89 on the contract
    // corpus — SCALE_CURVE.md "Round-18: BPE pin raised 64 → 78")
    val merges = Bpe.train(freqs.toSeq, 600)
    assert(merges.length >= 512, s"trained only ${merges.length} merges")
  }
}
