package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus-trained n-gram language-model fluency scoring — the
  * model-based rung of the quality-filter family (CCNet, arXiv:1911.00359,
  * filters pretraining corpora by LM score; the heuristic rungs are
  * `TextFunctions.qualityScore`/`x_rep_signals`). The reference (pydala)
  * has no text-quality surface; this extends the extension family.
  *
  * Model = add-k-smoothed bigram probabilities estimated from the SAME
  * corpus being scored (self-scoring finds the corpus's own disfluent
  * outliers — boilerplate, mojibake, token soup):
  * `p(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V)`.
  * The score is the per-document MEAN smoothed probability, not mean
  * log-prob: engines disagree on `ln` in the last ulp (libm's log is
  * not required to be correctly rounded, unlike sqrt), and the mean
  * probability is an equally monotone junk-vs-fluent signal for
  * filtering while staying bit-identical across engines — the property
  * every oracle twin in this repo is built on.
  *
  * Scale shape (100 TB): the model is two map-combinable instance
  * counts (bigram, unigram) — partial aggregation collapses the
  * per-token explosion map-side. Scoring joins each bigram INSTANCE to
  * the two count dictionaries by token key: dictionary sides carry one
  * row per key, so a hot key ("the …") is ordinary probe-side skew that
  * AQE's skew-join splitting handles — never a windowed single-task
  * corpus key (the Catch-3 class). The CORPUS-sized token arrays are
  * never pinned (re-scanning is linear and spill-free where a 100 TB
  * checkpoint is neither — 3 corpus scans total: bigram counts, unigram
  * counts, scoring instances); the VOCABULARY-sized unigram dictionary
  * IS pinned, so the V count and the scoring join share one
  * materialization instead of re-running the unigram pass twice. */
object NgramLm {

  /** Per-document `(idCol, n_bigrams, lm_score)` — mean add-k bigram
    * probability over the document's bigram instances. Documents with
    * fewer than two tokens have no bigrams and are absent from the
    * result (they carry no fluency evidence either way). The mean runs
    * through a DECIMAL(20,14) sum so any engine replaying it is
    * bit-identical (the repo-wide aggregate-doubles rule). */
  /** `(__id, [carry...], __t)` token frame — ONE definition of the
    * tokenization both scorers (and their DuckDB twins) depend on. */
  private def toksOf(docs: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil): DataFrame =
    docs.select(col(idCol).as("__id") +: carry.map(col) :+
      TextFunctions.tokens(col(textCol)).as("__t"): _*)

  /** Bigram instances `(__id, [carry...], w1, w2)` of a token frame —
    * ONE definition of the instance construction (zip of the token
    * array against its own 1-shift; docs under two tokens vanish). */
  private def pairsOf(t: DataFrame, carry: Seq[String] = Nil): DataFrame =
    t.filter(size(col("__t")) >= 2)
      .select(col("__id") +: carry.map(col) :+ explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"): _*)
      .select(col("__id") +: carry.map(col) :+
        col("__bg.w1").as("w1") :+ col("__bg.w2").as("w2"): _*)

  def bigramScore(docs: DataFrame, idCol: String, textCol: String,
      addK: Double = 1.0): DataFrame = {
    require(addK > 0, s"bigramScore: addK = $addK must be > 0 — unsmoothed " +
      "counts divide by zero on unseen histories")
    def toks = toksOf(docs, idCol, textCol)
    def pairs = pairsOf(toks)

    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("__c12"))
    // the unigram DICTIONARY (one row per distinct token — vocabulary-
    // sized, not corpus-sized) is pinned: un-pinned, the V count below
    // and the scoring join would each re-run the full tokenize→explode→
    // aggregate corpus pass (review catch — 4 corpus scans, not 3)
    val uni = toks.select(explode(col("__t")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("__c1"))
      .localCheckpoint(false)
    // vocabulary size: a count over the pinned dictionary — free
    val v = uni.count()

    pairs
      .join(big, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .withColumn("__p",
        (col("__c12") + lit(addK)) / (col("__c1") + lit(addK * v)))
      .groupBy("__id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("__p").cast("decimal(20,14)")).cast("double") /
          count(lit(1))).as("lm_score"))
      .select(col("__id").as(idCol), col("n_bigrams"), col("lm_score"))
  }

  /** DSIR-shape importance weights (Xie et al., arXiv:2302.03169 —
    * data selection by importance resampling): every document is
    * weighted by how TARGET-domain-like its n-grams are, as the mean
    * per-bigram-instance ratio `p_target(w1,w2) / p_corpus(w1,w2)`
    * between two add-k bigram models — one trained on the documents
    * matching `targetPredicate`, one on the whole corpus. Sampling
    * proportionally to the weight then shifts a raw crawl toward the
    * target distribution ([[Sampling]] has the samplers). Mean RATIO,
    * not sum of log-ratios, for the same engine-portability reason as
    * [[bigramScore]] (libm `ln` breaks bit-identical twins); both are
    * monotone "more target-like → bigger" signals. Both models smooth
    * against the CORPUS vocabulary (the target vocab is a subset, and
    * a shared V keeps unseen-bigram mass comparable across the two).
    *
    * Scale shape: the SAME three corpus passes as [[bigramScore]] —
    * both models ride the same two aggregations as conditional counts
    * (`count(*)` for the corpus, `sum(when(target, 1))` for the target
    * slice, both map-combinable), so the target model costs no extra
    * scan and the scoring join touches two dictionaries, not four
    * (review catch: the first formulation tokenized the target slice
    * twice more and left-joined two extra count tables). A bigram or
    * token unseen in the target carries count 0 — pure smoothing mass.
    * The ratio sum runs through DECIMAL(27,12) (ratios can reach
    * ~corpus_tokens/V at the 100 TB point, past DECIMAL(20,14)'s 6
    * integer digits). Documents with no bigrams are absent, as in
    * [[bigramScore]]. */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
      targetPredicate: String, addK: Double = 1.0): DataFrame = {
    require(addK > 0, s"importanceWeights: addK = $addK must be > 0")
    // a null predicate result (e.g. null lang) counts as non-target
    val tagged = docs.withColumn("__tgt",
      coalesce(expr(targetPredicate).cast("boolean"), lit(false)))
    def toks = toksOf(tagged, idCol, textCol, Seq("__tgt"))
    def pairs = pairsOf(toks, Seq("__tgt"))
    def tgtCount = sum(when(col("__tgt"), 1L).otherwise(0L))

    val big = pairs.groupBy("w1", "w2")
      .agg(count(lit(1)).as("__c12"), tgtCount.as("__c12t"))
    // corpus unigram dictionary pinned for the same two consumers as
    // in bigramScore (V + the scoring join)
    val uni = toks.select(explode(col("__t")).as("w1"), col("__tgt"))
      .groupBy("w1").agg(count(lit(1)).as("__c1"), tgtCount.as("__c1t"))
      .localCheckpoint(false)
    val v = uni.count()

    val pT = (col("__c12t") + lit(addK)) / (col("__c1t") + lit(addK * v))
    val pC = (col("__c12") + lit(addK)) / (col("__c1") + lit(addK * v))
    pairs
      .join(big, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .withColumn("__r", pT / pC)
      .groupBy("__id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("__r").cast("decimal(27,12)")).cast("double") /
          count(lit(1))).as("weight"))
      .select(col("__id").as(idCol), col("n_bigrams"), col("weight"))
  }
}
