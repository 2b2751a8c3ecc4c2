package lakebench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ds.{DatasetWriter, GraftDataset, WriteMode}
import graft.functions.TextFunctions
import graft.operators.{Dedup, Search}

/** Corpus curation of seeded document shards: quality gate → exact dedup
  * → MinHash-LSH candidates and Jaccard verification → BM25 top-k over
  * seeded queries → append of the curated shard to a corpus dataset. The
  * custom kernels inside `functions` and `operators` do most of the work.
  * Every stage is materialized (`localCheckpoint`) so that its span holds
  * its own work. */
final class Curation(ctx: Ctx) {
  import Curation._
  private val spark = ctx.spark
  private val seed = ctx.seed
  private val parts = spark.sparkContext.defaultParallelism
  private val shardDocs = if (ctx.smoke) 500L else 1000L

  private var corpus: GraftDataset = _
  private var shard = 0L
  private var phaseFrom = 0L
  private var expectedRows = 0L
  private val stage = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def setup(dir: Path): Unit = {
    corpus = GraftDataset(dir.resolve("corpus").toString, partitioning = Seq("source"))
  }

  def startPhase(): Unit = { phaseFrom = shard; stage.clear() }

  private def pin(df: DataFrame): (DataFrame, Long) = {
    val p = df.localCheckpoint(true)
    (p, p.count())
  }

  /** Curate the next shard. True when the gate and exact dedup keep the
    * planted counts, every verified near-duplicate pair is a planted one,
    * LSH recall of the planted pairs is at least `MinRecall`, and the
    * shard written is exactly the deduplicated set minus the later
    * member of each verified pair. */
  def curate(): Boolean = {
    val lo = shard * shardDocs
    shard += 1
    val docs = Gen.documents(spark, seed, lo, lo + shardDocs, parts)
    val groups = shardDocs / Gen.GroupSize
    val (kept, nKept) = ctx.span("functions.quality_gate")(
      pin(docs.filter(TextFunctions.qualityGate(col("text"), 0.6, "en"))))
    val (uniq, nUniq) = ctx.span("operators.dedup_exact")(pin(Dedup.exact(kept, "doc_id", "text")))
    val (verified, nCand, pairs) = ctx.span("operators.minhash") {
      val (cands, nc) = pin(Dedup.minhashLshPairs(uniq, "doc_id", "text", threshold = 0.0)
        .select("id_a", "id_b"))
      val (v, _) = pin(Dedup.verifyPairs(cands, uniq, "doc_id", "text", threshold = 0.8))
      (v, nc, v.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))))
    }
    val curated = uniq.join(verified.select(col("id_b").as("doc_id")), Seq("doc_id"), "left_anti")
    val topHits = ctx.span("operators.bm25") {
      (0 until QueriesPerShard).map { q =>
        Search.bm25TopK(curated, "doc_id", "text", Gen.query(seed, q), TopK).collect().length
      }
    }
    val written = ctx.span("ds.curated_write")(DatasetWriter(corpus, WriteMode.Append).write(spark, curated))
    val planted = groups * Gen.NearPairs
    val falsePairs = pairs.count { case (a, b) => !Gen.isNearPair(a, b) }
    val dropped = pairs.map(_._2).distinct.length
    val recall = (pairs.length - falsePairs).toDouble / planted
    expectedRows += nUniq - dropped
    stage("gate_out") += nKept; stage("exact_out") += nUniq
    stage("cand") += nCand; stage("verified") += pairs.length; stage("planted") += planted
    val ok = nKept == groups * Gen.KeptAfterGate && nUniq == groups * Gen.KeptAfterExact &&
      falsePairs == 0 && recall >= MinRecall && written == nUniq - dropped &&
      topHits.forall(n => n > 0 && n <= TopK)
    if (!ok || recall < 1) System.err.println(s"[lakebench] shard ${shard - 1}: gate $nKept exact $nUniq " +
      s"candidates $nCand verified ${pairs.length} of $planted planted (false $falsePairs) " +
      s"written $written bm25 $topHits ($groups groups)")
    ok
  }

  def verify(checks: Checks): Unit = {
    // reference: a plain read of the corpus directory against what the
    // shard checks accepted
    val r = spark.read.parquet(corpus.path).agg(count(lit(1)), countDistinct("doc_id")).head()
    checks.expect("corpus_curation.kept_docs", expectedRows, r.getLong(0))
    checks.expect("corpus_curation.distinct_docs", expectedRows, r.getLong(1))
  }

  def sizes: Map[String, Long] = Map("shard_docs" -> shardDocs, "words_per_doc" -> Gen.WordsPerDoc.toLong)

  def docs: Long = (shard - phaseFrom) * shardDocs

  /** `busySeconds`: time spent in curation ops. */
  def named(busySeconds: Double): Seq[(String, Double, String, Int)] =
    Seq(("docs_per_s", docs / busySeconds, "docs/s", (shard - phaseFrom).toInt))

  def layer: Map[String, Double] = {
    def frac(a: String, b: String) = if (stage(b) > 0) stage(a).toDouble / stage(b) else 0.0
    Map("operators.dedup_kept_frac" -> frac("exact_out", "gate_out"),
      "operators.minhash_verified_frac" -> frac("verified", "cand"),
      "operators.minhash_recall" -> frac("verified", "planted"))
  }
}

object Curation {
  val QueriesPerShard = 3
  val TopK = 10
  /** MinHash-LSH is probabilistic: k=32 hashes in 8 bands should miss a
    * pair at Jaccard 0.97 with p < 1e-7, but the signature's hash family
    * (h1 + j·h2) is correlated and misses about one planted pair in a
    * thousand. The floor catches a broken operator; the exact recall is
    * reported as `operators.minhash_recall`. */
  val MinRecall = 0.99
  val LayerKeys = Seq("operators.dedup_kept_frac", "operators.minhash_verified_frac",
    "operators.minhash_recall")
}
