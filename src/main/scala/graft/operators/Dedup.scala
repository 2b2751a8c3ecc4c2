package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines, each designed
  * around Spark's shuffle model:
  *
  *  - exact: one hash-shuffle on the fingerprint (map-side combinable).
  *  - n-gram Jaccard: shingle inverted index, pairs counted inside
  *    df-capped buckets — |A∩B| falls out of a map-side-combinable
  *    count, so no shingle array ever rides a pairwise join; the df
  *    cap both removes boilerplate shingles (a stopword shingle would
  *    otherwise create O(df²) candidates at 100 TB) and bounds
  *    per-bucket fan-out.
  *  - MinHash+LSH: constant-size signatures (k hashes) + banded bucket
  *    join — the scale path: cost is O(n·bands) shuffle rows, never
  *    pairwise. Candidates are verified with exact Jaccard.
  *  - SimHash: 64-bit signature, banded on 16-bit chunks (any pair
  *    within Hamming distance 3 of each other shares a chunk by
  *    pigeonhole; wider radii need more/narrower chunks).
  *  - embedding cosine: see Similarity.scala.
  *
  * Caching note: the pipelines materialize small projected
  * intermediates (id + signature/shingle columns) that feed multiple
  * joins via lazy `localCheckpoint`, not `cache()`: checkpoint blocks
  * belong to the RDD and are released by the ContextCleaner as soon as
  * the result plan is garbage-collected, so long-lived sessions need no
  * `clearCache()` discipline and nothing accumulates in the cache
  * manager across many dedup passes. Trade-off (documented for cluster
  * deployments): localCheckpoint truncates lineage, so losing an
  * executor that holds checkpoint blocks fails the job instead of
  * recomputing — with dynamic allocation, prefer
  * `spark.dynamicAllocation.shuffleTracking.enabled` or reliable
  * `checkpoint()` to a cluster-visible directory.
  */
object Dedup {

  /** Materialize-on-first-action for a small intermediate that feeds
    * multiple joins. LAZY localCheckpoint: plan construction stays free
    * (callers that only build or `.explain` a dedup pipeline run zero
    * jobs — same as `cache()` was), the first action populates the
    * blocks once for all downstream joins, and the ContextCleaner frees
    * them on GC. See the object scaladoc for the cluster trade-off. */
  private def pin(df: DataFrame): DataFrame = df.localCheckpoint(false)

  /** Exact dedup on a canonical fingerprint: keep the lowest-id doc per
    * fingerprint group. Single shuffle on the hash key, MAP-SIDE
    * combinable: the winning row per fingerprint is `min_by(row, id)`,
    * so each map task ships one candidate per fingerprint — a HOT
    * fingerprint (an empty/boilerplate text duplicated across a large
    * slice of the corpus) costs one row per upstream partition, where
    * the row_number window it replaces (round 16) sorted the whole
    * group in ONE task. Same rule as `GraftDataset.withDedup`'s
    * uniform-order path. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val rowStruct = struct(df.columns.toIndexedSeq.map(col): _*)
    // ordering key wraps the id in (isNull, id) — min_by SKIPS rows
    // whose ordering value is null, which would silently flip the
    // winner away from the window formulation's nulls-FIRST order (and
    // emit an all-NULL row for an all-null-id group); the struct is
    // never null, and its comparison decides on the flag before ever
    // touching a null id (review catch, round 16)
    val ord = struct(when(col(idCol).isNull, 0).otherwise(1).as("n"), col(idCol).as("k"))
    df.withColumn("__fp", fingerprint(col(textCol)))
      .groupBy(col("__fp"))
      .agg(min_by(rowStruct, ord).as("__m"))
      .select(col("__m.*"))
  }

  /** Exact word-n-gram Jaccard near-dup pairs via shingle inverted
    * index. Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * `maxShingleDf` drops shingles appearing in more than that many docs
    * from the shingle space entirely — Jaccard is computed over the
    * *pruned* space. That is the standard boilerplate treatment (a
    * stopword shingle says nothing about duplication but would create
    * O(df²) candidate pairs at 100 TB), and it doubles as the fan-out
    * bound: every surviving bucket emits at most cap·(cap−1)/2 pairs.
    *
    * Execution shape (scale-first): ONE wide shuffle builds the inverted
    * index (`groupBy(shingle)`); pairs are enumerated inside each capped
    * bucket; a map-side-combinable `groupBy(id_a, id_b).count()` yields
    * |A∩B| exactly — so Jaccard needs only the per-doc set sizes
    * (|A∪B| = |A|+|B|−|A∩B|), and no shingle array ever rides a
    * pairwise join. Versus candidate-generation + per-pair array
    * intersection this is ~4× faster at sf0.1 (1.1M candidate pairs)
    * and avoids the O(pairs · set size) verify term at scale. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Option[Int] = None): DataFrame = {

    // cast keeps the API open to int/short doc ids: the OrderedPairs
    // pair-enumeration expression below type-checks array<bigint> only.
    // Numeric-only by requirement — casting a string id would yield
    // nulls that collect_list silently drops (empty result, no error)
    require(df.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"ngramJaccardPairs needs a numeric id column, got ${df.schema(idCol).dataType} for '$idCol'")
    val docs = df.select(col(idCol).cast("long").as("id"), shingleSet(col(textCol), n).as("sh"))
    val posting = docs.select(col("id"), explode(col("sh")).as("s"))
    val buckets = posting.groupBy("s").agg(collect_list(col("id")).as("ids"))
    val kept = maxShingleDf.fold(buckets)(cap => buckets.filter(size(col("ids")) <= cap))

    // Per-doc size of the (pruned) shingle space. Without a cap it's just
    // |sh| — no extra shuffle; with a cap, re-aggregate the kept buckets
    // (cached: they also feed pair enumeration).
    val (sizes, pairSource) = maxShingleDf match {
      case None => (docs.select(col("id"), size(col("sh")).as("sz")), kept)
      case Some(_) =>
        val k = pin(kept)
        (k.select(explode(col("ids")).as("id")).groupBy("id").agg(count(lit(1)).as("sz")), k)
    }

    // Enumerate ordered pairs inside each bucket via the single-pass
    // OrderedPairs expression (sorted ids, (a, b) with a < b). Bucket
    // size ≤ cap keeps this polynomial-free.
    val pairs = pairSource.filter(size(col("ids")) >= 2)
      .select(explode(graft.plans.GraftExpressions.orderedPairs(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))

    val shared = pairs.groupBy("id_a", "id_b").agg(count(lit(1)).as("__inter"))
    // Size lookups: tiny per-doc tables — Catalyst/AQE broadcasts them
    // when they fit, falls back to shuffle join beyond that.
    shared
      .join(sizes.select(col("id").as("id_a"), col("sz").as("__sz_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("__sz_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("__inter").cast("double") / (col("__sz_a") + col("__sz_b") - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact n-gram Jaccard near-dup pairs via PREFIX FILTERING (the
    * AllPairs/PPJoin family): order the shingle space by ascending
    * document frequency (rarest first, ties by shingle), and index each
    * document only on its first `|d| − ⌈t·|d|⌉ + 1` shingles under that
    * global order. Any pair with J ≥ t must share a prefix shingle —
    * completeness is the classic ssjoin prefix-filter result — so this
    * is EXACT for the threshold, unlike the df-cap variant (which
    * redefines Jaccard over a pruned space).
    *
    * Scale shape: the prefix keeps only the rarest tokens of each doc,
    * so posting lists stay short exactly where candidate fan-out would
    * explode; stages are (1) df count — map-combinable agg, (2) per-doc
    * prefix — window over doc-sized groups, (3) candidate pairs inside
    * prefix buckets, (4) exact verify on sorted sets via the merge-pass
    * intersect. No tuning knob changes the answer, only the speed
    * (`hotDf` is the df split point between broadcast-annotated hot
    * shingles and collect-aggregated cold buckets — exposed so a spec
    * can drive both the hot path and its measured-size fallback). */
  def ngramJaccardPairsPrefix(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      hotDf: Long = 1L << 20): DataFrame = {

    // hashed shingle space: every downstream exchange (df count, prefix
    // agg, candidate join, verify) moves 8-byte longs, not shingle
    // text; prefix-filter completeness only needs SOME global total
    // order on the shingle space, so ordering by (df, hash) instead of
    // (df, text) is equally exact (collision bound in
    // WordShingleHashes' scaladoc)
    val docs = pin(df.select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("sh")))
    val posting = docs.select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))

    // df annotation WITHOUT a posting-wide shuffle join (round-15 Catch
    // 9): the original posting⋈dfreq SortMergeJoin sorted the full
    // posting volume twice and dominated the operator's wall (probe:
    // 51 s of 89 at sf30; the inverted-index agg shape below does the
    // same annotation in 19-24 s). Buckets carry their own df and their
    // (id, sz) entries through ONE map-combinable aggregation — but an
    // unbounded collect_list is a fat-row hazard on stopword shingles
    // (df ~ corpus size ⇒ GB-sized rows at 100 TB), so buckets are
    // split by df against `hotDf`: the hot shingles are provably few
    // (≤ |posting| / hotDf — counting argument), ship as a BROADCAST,
    // and annotate their posting rows with a hash join that shuffles
    // nothing; only the cold (bounded ≤ hotDf·16 B) buckets collect.
    val dfreq = posting.groupBy("s").agg(count(lit(1)).as("df"))
    val hot = pin(dfreq.filter(col("df") > hotDf))
    // measured-size check on the forced hot broadcast (round-16 advice):
    // the counting-argument bound (≤ |posting|/hotDf rows) grows
    // LINEARLY with corpus scale (~10⁷ rows ≈ 320 MB at a 10¹³-row
    // posting), and a forced hint bypasses both JoinSelection's size
    // check and AQE's runtime demotion — the risk class the Similarity
    // centroid guard closes. The pin above makes the count a block
    // materialization every downstream join reuses, not an extra pass;
    // ~32 B/row covers two longs plus unsafe-row overhead. An oversized
    // hot set drops the HINTS only: the planner still auto-broadcasts a
    // small table, and a genuinely huge one degrades to a shuffled join
    // — slower (one posting-wide exchange), never an executor OOM.
    val hotBytes = hot.count() * 32L
    val sessThr = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    // thr ≤ 0 sessions use the SAME overridable sanity cap as every
    // Similarity guard (review catch: a hard-coded 8 GiB here silently
    // ignored spark.graft.forcedBroadcastCap on this one path)
    val hotHint: DataFrame => DataFrame =
      if (hotBytes <= (if (sessThr > 0) sessThr
        else Similarity.disabledThresholdCap(df.sparkSession))) b => broadcast(b)
      else identity
    val cold = posting.join(hotHint(hot.select(col("s"))), Seq("s"), "left_anti")
      .groupBy(col("s"))
      .agg(count(lit(1)).as("df"), collect_list(struct(col("id"), col("sz"))).as("es"))
      .select(col("df"), col("s"), explode(col("es")).as("e"))
      .select(col("e.id").as("id"), col("e.sz").as("sz"), col("df"), col("s"))
    val hotAnnot = posting.join(hotHint(hot), Seq("s"))
      .select(col("id"), col("sz"), col("df"), col("s"))

    // global rarity order; prefix length = sz − ceil(t·sz) + 1. The
    // per-doc ranking is an in-group array_sort over the doc's own
    // (df, s) list — docs are hundreds of shingles, so the sort is
    // bytes, not an exchange (chunk pathological multi-MB docs upstream
    // with textChunks). Singleton shingles (df = 1) are SELECTED into
    // prefixes — their rarity is what pushes common shingles out — but
    // a prefix-filter WITNESS is shared by both docs of a pair and so
    // has df ≥ 2 by definition; dropping df = 1 entries from the
    // self-join INPUT is answer-preserving (DedupPropertySpec pins it
    // on random corpora) and shrinks the joined posting an order of
    // magnitude on near-unique-vocabulary corpora.
    // PINNED: the prefix subplan feeds BOTH sides of the candidate
    // self-join; exchange reuse usually deduplicates identical
    // subplans, but under AQE that is a runtime optimization, not a
    // contract — a pin makes single execution structural.
    val prefix = pin(cold.unionByName(hotAnnot)
      .groupBy(col("id"))
      .agg(first(col("sz")).as("sz"),
        array_sort(collect_list(struct(col("df"), col("s")))).as("ord"))
      .select(col("id"), col("sz"), posexplode(slice(col("ord"), lit(1),
        (col("sz") - ceil(col("sz") * threshold) + 1).cast("int"))).as(Seq("pos", "e")))
      .filter(col("e.df") >= 2)
      .select(col("e.s").as("s"), col("id"), col("sz"), col("pos")))

    // Exact pre-verify filters from the ssjoin literature — both prune
    // candidates BEFORE the pair-payload verify join, which is the
    // operator's widest exchange (round-15 sf60 probe: candidate pairs
    // carrying a shingle array dominate the shuffle volume):
    //  - LENGTH (AllPairs): J ≥ t forces t·|B| ≤ |A| for |A| ≤ |B| —
    //    size-mismatched collisions can never verify.
    //  - POSITIONAL (PPJoin): for the EARLIEST shared prefix token of a
    //    true pair, every other common token sits strictly later in
    //    BOTH ordered sets (an earlier common token would itself be a
    //    shared prefix token), so the true overlap is bounded by
    //    min(|A|−posA, |B|−posB); pairs are kept if ANY occurrence
    //    passes, so the earliest occurrence of a qualifying pair always
    //    survives — exact. `pos` indexes the doc's full (df, s) order
    //    (the prefix IS its first entries, positions assigned before
    //    the df ≥ 2 drop).
    // Float slack (−1e-9) errs toward keeping: over-inclusion costs a
    // verify evaluation, over-exclusion would be a wrong answer.
    val minOverlap =
      ceil((col("a.sz") + col("b.sz")) * (threshold / (1.0 + threshold)) - 1e-9)
    val cands = prefix.as("a").join(prefix.as("b"), Seq("s"))
      .filter(col("a.id") < col("b.id"))
      .filter(col("a.sz") >= col("b.sz") * threshold - 1e-9 &&
        col("b.sz") >= col("a.sz") * threshold - 1e-9)
      .filter(least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos")) >= minOverlap)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    jaccardVerify(cands, docs, threshold)
  }

  /** MinHash + LSH near-dup pairs: k-hash signatures, `bands` bands of
    * k/bands rows; docs sharing any band bucket become candidates and
    * are verified with exact Jaccard. Output matches ngramJaccardPairs
    * whenever LSH recall reaches the planted pairs (k=32, bands=8 →
    * P(miss | j=0.9) < 1e-4). */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.8): DataFrame = {

    require(bands >= 1 && bands <= k && k % bands == 0,
      s"minhashLshPairs: bands ($bands) must divide k ($k) — bands > k makes every " +
        "band key empty (all docs collide: the n² join this operator exists to avoid), " +
        "and k % bands != 0 silently drops the trailing hashes from the recall contract")
    val r = k / bands
    // zero-shingle docs all minhash to the identical all-MaxValue
    // signature, collide in every band, and then divide 0/0 in the
    // Jaccard verify (ANSI: job abort). An empty doc says nothing
    // about near-duplication — drop it up front, same rule as
    // simhashPairs (exact dedup still catches empty==empty).
    val docs = pin(df.select(col(idCol).as("id"), shingleSet(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0))
    // Signatures are tiny (id + k longs) and feed both sides of the
    // bucket self-join — materialize once.
    val sigs = pin(docs.select(col("id"), bandKeys(minhashSignature(col("sh"), k), bands, r).as("bk")))
    val buckets = sigs.select(col("id"), posexplode(col("bk")).as(Seq("band", "key")))
    val cands = buckets.as("a").join(buckets.as("b"), Seq("band", "key"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    jaccardVerify(cands, docs, threshold)
  }

  /** Bipartite MinHash+LSH: near-dup pairs BETWEEN two corpora — the
    * incremental-ingest shape (dedupe an incoming crawl batch against
    * the existing lake without ever self-joining the lake). Returns
    * `(id_new, id_corpus, jaccard)`.
    *
    * Same machinery as [[minhashLshPairs]], but the bucket join is
    * new-side × corpus-side only: candidate volume is O(new·bands)
    * posting rows probing the corpus's buckets, never corpus², and at
    * 100 TB the corpus's signatures are a cheap narrow projection that
    * an operational deployment would precompute once and store beside
    * the lake (they are pure functions of the text). Recall/threshold
    * semantics are identical to the self-join variant. */
  def minhashLshPairsAcross(
      newDf: DataFrame, corpusDf: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.8): DataFrame = {

    require(bands >= 1 && bands <= k && k % bands == 0,
      s"minhashLshPairsAcross: bands ($bands) must divide k ($k) — see minhashLshPairs")
    val r = k / bands
    // same empty-doc rule as the self-join variant (0/0 verify + all-
    // collide signature otherwise)
    def prep(df: DataFrame) =
      pin(df.select(col(idCol).as("id"), shingleSet(col(textCol), n).as("sh"))
        .filter(size(col("sh")) > 0))
    def buckets(docs: DataFrame) =
      docs.select(col("id"), bandKeys(minhashSignature(col("sh"), k), bands, r).as("bk"))
        .select(col("id"), posexplode(col("bk")).as(Seq("band", "key")))
    val newDocs = prep(newDf); val corpusDocs = prep(corpusDf)
    val cands = buckets(newDocs).as("a")
      .join(buckets(corpusDocs).as("b"), Seq("band", "key"))
      .select(col("a.id").as("id_new"), col("b.id").as("id_corpus"))
      .distinct()
    jaccardVerify(cands, newDocs, corpusDocs, "id_new", "id_corpus", threshold)
  }

  /** Exact Jaccard verification of candidate pairs by re-joining the
    * shingle sets by id (signatures/arrays never ride the wide shuffle).
    * Shingle sets arrive sorted (WordShingles), so |A∩B| is a compiled
    * merge pass and |A∪B| = |A|+|B|−|A∩B| — no per-pair hash sets.
    * The self-join variant passes the same docs frame for both sides;
    * the bipartite variant passes each corpus with its own id column. */
  private def jaccardVerify(cands: DataFrame, docsA: DataFrame, docsB: DataFrame,
      idA: String, idB: String, threshold: Double): DataFrame = {
    cands
      .join(docsA.select(col("id").as(idA), col("sh").as("sh_a")), Seq(idA))
      .join(docsB.select(col("id").as(idB), col("sh").as("sh_b")), Seq(idB))
      .withColumn("__inter",
        graft.plans.GraftExpressions.intersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("__inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col(idA), col(idB), col("jaccard"))
  }

  private def jaccardVerify(cands: DataFrame, docs: DataFrame, threshold: Double): DataFrame =
    jaccardVerify(cands, docs, docs, "id_a", "id_b", threshold)

  /** Exact-Jaccard verification of an EXTERNAL candidate pair set
    * `(id_a, id_b)` against the corpus — the batch decision stage for
    * candidate generators that run elsewhere (the streaming LSH bucket
    * memory, a precomputed index). Same verify join as the in-process
    * pipelines: shingle sets re-join by id, the sorted-merge intersect
    * never ships per-pair hash sets. */
  def verifyPairs(cands: DataFrame, df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val docs = pin(df.select(col(idCol).as("id"), shingleSet(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0))
    jaccardVerify(cands, docs, threshold)
  }

  /** SimHash near-dup pairs within a Hamming radius. Banded on 4×16-bit
    * chunks of the 64-bit signature (exact for radius ≤ 3; candidates
    * beyond that are still verified, just possibly incomplete). */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, md5Bits: Boolean = false): DataFrame = {

    val hasher: Column => Column = if (md5Bits) simhashMd5 else simhash64
    // zero-token docs all hash to signature 0 and would pair with each
    // other (hamming 0) — an empty doc says nothing about duplication,
    // so drop them (the SQL twin's unnest drops them implicitly)
    val sigs = df.select(col(idCol).as("id"), tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) > 0)
      .select(col("id"), hasher(col("__t")).as("sig")).transform(pin)
    val chunks = sigs.select(col("id"), col("sig"), posexplode(
      array((0 until 4).map(c =>
        call_function("shiftright", col("sig"), lit(c * 16)).bitwiseAND(lit(0xFFFFL))): _*))
      .as(Seq("chunk", "key")))
    chunks.as("a").join(chunks.as("b"), Seq("chunk", "key"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Connected components over a near-dup pair list — the stage that
    * turns pairwise dup evidence into dedup decisions: transitive
    * closure groups A~B, B~C into one cluster {A,B,C} whose canonical
    * doc (minimum id) is kept and the rest dropped. Returns
    * `(id, label)` for every id appearing in a pair, `label` = minimum
    * id of its component.
    *
    * Algorithm: hash-min label propagation. Each round, every node
    * offers its current label to its neighbors and keeps the minimum of
    * its own and all offers; a fixpoint is reached after `diameter`
    * rounds. Near-dup graphs are LSH-bucket cliques plus short chains —
    * diameter is almost always ≤ 3, so this beats the O(log n)-round
    * pointer-doubling variants on constants (each round here is one
    * shuffled join + one map-side-combinable min-agg over the EDGE
    * list; doubling rounds square the frontier instead). At 100 TB the
    * edge list (two longs per pair) is orders of magnitude smaller than
    * the corpus, and a pathological high-degree hub (one doc near-dup
    * to millions) only makes the min-agg's key skewed — AQE skew
    * handling splits it, and labels, not adjacency lists, ride every
    * shuffle. For adversarial long-chain graphs raise `maxIterations`
    * or switch to large-star/small-star; for dedup workloads the
    * default never binds.
    *
    * Convergence is detected by the label SUM (labels only decrease,
    * so the sum is strictly monotone until fixpoint) — one scalar agg
    * per round instead of a change-count join. Summed in decimal so
    * detection stays exact however many 2^63-scale ids are in play.
    * Each round's labels are EAGERLY localCheckpoint'ed: iterative
    * plans otherwise nest joins `iter` levels deep and re-execute the
    * whole history every round. */
  def clusters(
      pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      maxIterations: Int = 50): DataFrame = {

    val half = pairs.select(col(aCol).cast("long").as("s"), col(bCol).cast("long").as("d"))
    // undirected: propagate both ways; distinct collapses multi-edges
    // (the same pair surfacing from several LSH tables/bands)
    val edges = pin(half.union(half.select(col("d"), col("s"))).distinct())

    var labels = edges.select(col("s").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint(true)
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("label").cast("decimal(38,0)"))).head().get(0)
      if (v == null) java.math.BigDecimal.ZERO
      else v.asInstanceOf[java.math.BigDecimal]
    }
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = edges.isEmpty
    while (!converged) {
      iter += 1
      require(iter <= maxIterations,
        s"Dedup.clusters: no fixpoint after $maxIterations rounds — " +
          "component diameter exceeds the bound; raise maxIterations")
      val offers = edges.join(labels, edges("s") === labels("id"))
        .groupBy(col("d").as("__n")).agg(min(col("label")).as("__offer"))
      val next = labels.join(offers, labels("id") === offers("__n"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("__offer"), col("label"))).as("label"))
        .localCheckpoint(true)
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
    }
    labels
  }

  /** Cross-document repeated-SPAN statistics — the exact-substring
    * dedup shape (fixed-length token windows instead of suffix arrays:
    * the shuffle-native formulation): every sliding `n`-token window of
    * every document is fingerprinted, and a span that occurs in MORE
    * THAN ONE document marks all its occurrences as cross-doc
    * duplicated text. Returns per-doc `(doc_id, n_spans,
    * cross_doc_spans, dup_frac)` — the per-document fraction of token
    * windows shared with some other document, the signal used to trim
    * boilerplate/templated spans from training corpora.
    *
    * Scale shape: spans explode to ~one row per corpus TOKEN, but the
    * string leaves the pipeline immediately — only (xxhash64, doc_id)
    * longs ride the shuffles, and every aggregate is map-side
    * combinable. Documents shorter than `n` tokens contribute one
    * whole-document span (WordShingles semantics), so short-doc exact
    * duplicates are still counted. Fingerprint collisions (~m²/2⁶⁵)
    * can only merge two spans — the documented hashed-dedup trade. */
  def spanDupStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 10): DataFrame = {
    val spans = df.select(col(idCol).as("doc_id"),
      explode(graft.plans.GraftExpressions.shingles(
        col(textCol), n, distinct = false)).as("span"))
      .select(col("doc_id"), xxhash64(col("span")).as("fp"))
    // Third formulation (round-17 triage). History: the r15 shape
    // attached the fp's document spread with a COUNT WINDOW over the fp
    // partition — fast (1.4 s at sf1) but a boilerplate fingerprint
    // present in most docs buffers ~ndocs rows in ONE window task
    // (round-16 advice, the unsplittable straggler). The r16 rewrite
    // joined a groupBy(fp) spread back onto the (fp, doc) rows — skew-
    // safe but measured 2.8× the window on the interleaved same-host
    // A/B (3.9–4.1 s vs 1.36–1.52 s at sf1: the fat fp-keyed join moves
    // every (fp, doc) row through a second exchange, and the shared
    // sub-plan is NOT runtime-reused). This shape needs neither:
    //
    //   cross_doc_spans(d) = n_spans(d) − Σ cnt(d, f) over fps with
    //                        ndocs(f) == 1   (the "uniq" complement)
    //
    //  - n_spans comes from the WORD COUNT alone (shingle count is
    //    max(1, W−n+1) for W ≥ 1 by WordShingles' contract, 0 for
    //    empty) — a pure projection, no second explode pass;
    //  - the uniq side flows spans → agg(fp, doc) → agg(fp) where BOTH
    //    aggregates are map-combinable, so a corpus-hot fp collapses
    //    map-side instead of stragglering a window or skewing a join;
    //    only single-doc fps survive the filter, and they aggregate to
    //    ≤ one row per doc before the final doc-keyed join (unique
    //    keys — skew-free by construction).
    val nSpansOf = {
      val w = size(graft.plans.GraftExpressions.shingles(
        col(textCol), 1, distinct = false))
      when(w === 0, lit(0L)).when(w < n, lit(1L))
        .otherwise((w - (n - 1)).cast("long"))
    }
    val nSpans = df.select(col(idCol).as("doc_id"), nSpansOf.as("__ns"))
      .groupBy("doc_id").agg(sum(col("__ns")).as("n_spans"))
      .filter(col("n_spans") > 0)
    val uniqPerDoc = spans.groupBy("fp", "doc_id").agg(count(lit(1)).as("cnt"))
      .groupBy("fp").agg(count(lit(1)).as("ndocs"),
        min(col("doc_id")).as("doc_id"), sum(col("cnt")).as("cnt"))
      .filter(col("ndocs") === 1)
      .groupBy("doc_id").agg(sum(col("cnt")).as("uniq_spans"))
    nSpans.join(uniqPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        (col("n_spans") - coalesce(col("uniq_spans"), lit(0L))).as("cross_doc_spans"))
      .withColumn("dup_frac",
        col("cross_doc_spans").cast("double") / col("n_spans"))
  }
}
