package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Corpus-trained BPE ([[Bpe]], Sennrich arXiv:1508.07909). The
  * load-bearing claims: (1) the checked-in pinned merge table IS what
  * the trainer produces from the fixed fixture slice — the pin cannot
  * drift; (2) encoding follows the learned-order left-to-right
  * non-overlapping pass the DuckDB oracle replays with `replace()`;
  * (3) the expression (tokenize → memoized kernel) agrees with the
  * plain-Scala kernel on real corpus text. */
class BpeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("pinned merge table equals retraining from the fixed slice") {
    val retrained = Bpe.trainPinned(spark)
    assert(retrained == Bpe.pinnedMerges,
      "PinnedBpeMerges drifted from Bpe.trainPinned — regenerate via BpeTrainTool")
  }

  test("training is deterministic: frequency then lexicographic ties") {
    // 'ab' x3 beats 'cd' x2; within equal freq the smaller pair wins
    val merges = Bpe.train(Seq(("ab", 3L), ("cd", 2L), ("ba", 3L)), 4)
    assert(merges.head == ("a", "b") || merges.head == ("b", "a"))
    // (a,b) from 'ab'x3 and (b,a) from 'ba'x3 tie at 3 → lexicographic
    assert(merges.head == ("a", "b"))
    // hapax pairs are never merged (freq < 2 stop)
    assert(Bpe.train(Seq(("xyz", 1L)), 8).isEmpty)
  }

  test("encoding is the learned-order left-to-right pass") {
    val merges = Seq(("a", "a"))
    // 'aaa' → greedy left-to-right: [aa, a] = 2 tokens, never 1
    assert(Bpe.tokenCount("aaa", merges) == 2)
    assert(Bpe.tokenCount("aaaa", merges) == 2)
    // merges apply in order: (a,b) then (ab,c) chains to one token
    assert(Bpe.tokenCount("abc", Seq(("a", "b"), ("ab", "c"))) == 1)
    // an earlier merge never re-applies after a later one forms its pair
    assert(Bpe.tokenCount("abc", Seq(("ab", "c"), ("a", "b"))) == 2)
  }

  test("corpus words land on the expected subword counts") {
    val m = Bpe.pinnedMerges
    // high-frequency corpus words fully merge; rare ones stay subword
    // (counts re-pinned for the round-18 78-merge table: "window" now
    // fully merges; "dup" stays subword — the slice keeps ~1.32
    // tokens/word overall, see PinnedBpeMerges)
    assert(Bpe.tokenCount("customer", m) == 1)
    assert(Bpe.tokenCount("join", m) == 1)
    assert(Bpe.tokenCount("window", m) == 1)
    assert(Bpe.tokenCount("dup", m) == 2)
    // out-of-corpus text still tokenizes (chars + any applicable merges)
    assert(Bpe.tokenCount("zzz", m) == 3)
    assert(Bpe.tokenCount("", m) == 0)
  }

  test("expression = kernel over real corpus text, memo or not") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val viaExpr = docs.select($"doc_id",
        TextFunctions.bpeTokenCount($"text").as("n"))
      .as[(Long, Int)].collect().toMap
    val viaKernel = docs.select($"doc_id", lower($"text"))
      .as[(Long, String)].collect().map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty)
          .map(w => Bpe.tokenCount(w, Bpe.pinnedMerges)).sum
      }.toMap
    assert(viaExpr == viaKernel)
    assert(viaExpr.values.sum > 0)
  }
}
