package graft.plans

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.functions.TextFunctions

/** The compiled fast paths must agree exactly with their declarative
  * built-in equivalents — the oracle correctness of the dedup queries
  * rests on this. */
class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val texts = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "  Leading  and   trailing   whitespace  "),
    (3L, "one"),
    (4L, "two words"),
    (5L, ""),
    (6L, "MIXED Case TOKENS mixed case tokens mixed"),
    (7L, "a\tb\nc d  e"),
    (8L, "dup dup dup dup dup")).toDF("id", "text")

  test("WordShingles(3, distinct) == sorted array_distinct of declarative shingles") {
    val declarative = texts.select($"id",
      array_sort(array_distinct(TextFunctions.shingles(TextFunctions.words($"text"), 3))).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    val compiled = texts.select($"id", TextFunctions.shingleSet($"text", 3).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(compiled == declarative)
  }

  test("WordShingles(1, keep-dups) == declarative words()") {
    val declarative = texts.select($"id", TextFunctions.words($"text").as("w"))
      .as[(Long, Seq[String])].collect().toMap
    val compiled = texts.select($"id", TextFunctions.tokens($"text").as("w"))
      .as[(Long, Seq[String])].collect().toMap
    // words() of "" is Array("")? split of empty string gives [""] filtered by length>0 → []
    assert(compiled == declarative)
  }

  test("WordShingleHashes == sorted xxhash64 of the shingle set") {
    // pins the compiled hasher to Spark's PUBLIC xxhash64 (seed 42)
    // semantics — the hashed dedup pipelines inherit WordShingles'
    // shingling exactly, just under a 64-bit image of the space
    val declarative = texts.select($"id",
      array_sort(transform(TextFunctions.shingleSet($"text", 3), s => xxhash64(s))).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    val compiled = texts.select($"id", TextFunctions.shingleHashes($"text", 3).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(compiled == declarative)
  }

  test("SortedIntersectCount on array<bigint> == size(array_intersect)") {
    val pairs = texts.as("a").join(texts.as("b"), $"a.id" < $"b.id")
      .select(
        TextFunctions.shingleHashes($"a.text", 2).as("sa"),
        TextFunctions.shingleHashes($"b.text", 2).as("sb"))
    val both = pairs.select(
      GraftExpressions.intersectCount($"sa", $"sb").as("fast"),
      size(array_intersect($"sa", $"sb")).as("ref"))
      .as[(Int, Int)].collect()
    assert(both.forall { case (f, r) => f == r }, both.mkString(","))
  }

  test("SortedIntersectCount == size(array_intersect) on sorted distinct arrays") {
    val pairs = texts.as("a").join(texts.as("b"), $"a.id" < $"b.id")
      .select(
        TextFunctions.shingleSet($"a.text", 2).as("sa"),
        TextFunctions.shingleSet($"b.text", 2).as("sb"))
    val both = pairs.select(
      GraftExpressions.intersectCount($"sa", $"sb").as("fast"),
      size(array_intersect($"sa", $"sb")).as("ref"))
      .as[(Int, Int)].collect()
    assert(both.forall { case (f, r) => f == r }, both.mkString(","))
  }

  test("VectorDot == aggregate(zip_with) fold") {
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f)),
      (3L, Array(-1.5f, 2.5f, -3.5f), Array(1.1f, -2.2f, 3.3f))).toDF("id", "a", "b")
    val out = vecs.select(
      GraftExpressions.dot($"a", $"b").as("fast"),
      aggregate(zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("ref"))
      .as[(Double, Double)].collect()
    assert(out.forall { case (f, r) => f == r })
  }

  test("VectorDot fails loudly on dimension mismatch (no silent truncation)") {
    val mixed = Seq((1L, Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f)))
      .toDF("id", "a", "b")
    val e = intercept[Exception](
      mixed.select(GraftExpressions.dot($"a", $"b")).collect())
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(c => Option(c.getMessage).exists(_.contains("dimension mismatch"))),
      s"expected a dimension-mismatch error, got: $e")
  }

  test("NearestCentroid generated code == interpreted eval, edge cases included") {
    // the coarse-assignment kernel now generates code (round-16: the
    // CodegenFallback path made it the hottest interpreted loop of the
    // dedup family); both execution paths share one kernel object, and
    // this pins them output-identical on every edge the contract names:
    // negative-sim rows, zero-norm rows/centroids, exact ties, nulls
    val cents = typedlit(Seq(
      (3L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (7L, Seq(0.0f, 0.0f)),                       // zero-norm centroid: sim 0 vs everything
      (5L, Seq(-1.0f, 0.0f))))
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),                     // → 3
      (2L, Array(0.0f, 2.0f)),                     // → 1
      (3L, Array(-1.0f, -0.0f)),                   // all others negative → 5
      (4L, Array(0.0f, 0.0f)),                     // zero-norm row: all sims 0 → lowest cid
      (5L, null.asInstanceOf[Array[Float]]),       // null row → lowest cid
      (6L, Array(0.7071f, 0.7071f))                // exact tie 3 vs 1 → lowest cid
    ).toDF("id", "v")
    def run(codegen: Boolean): Map[Long, Long] = {
      val prevW = spark.conf.get("spark.sql.codegen.wholeStage")
      val prevF = spark.conf.get("spark.sql.codegen.factoryMode")
      try {
        // CODEGEN_ONLY makes a codegen failure a test failure instead
        // of a silent interpreted fallback; NO_CODEGEN forces eval
        spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
        spark.conf.set("spark.sql.codegen.factoryMode",
          if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
        vecs.select($"id",
            GraftExpressions.nearestCentroid($"v", cents).as("cid"))
          .as[(Long, Long)].collect().toMap
      } finally {
        spark.conf.set("spark.sql.codegen.wholeStage", prevW)
        spark.conf.set("spark.sql.codegen.factoryMode", prevF)
      }
    }
    val gen = run(true); val interp = run(false)
    assert(gen == interp, s"codegen $gen != interpreted $interp")
    assert(gen == Map(1L -> 3L, 2L -> 1L, 3L -> 5L, 4L -> 1L, 5L -> 1L, 6L -> 1L))
  }

  test("NearestInCell generated code == interpreted eval, edge cases included") {
    // the hier FINE-stage kernel (round-16 Catch 10): per-row argmax
    // over the row's cell array. Same contract surface as
    // NearestCentroid — negative sims, zero-norm rows/centroids, exact
    // ties, null rows — pinned identical between both execution paths.
    val cell = typedlit(Seq(
      (3L, Seq(1.0f, 0.0f), 1.0),
      (1L, Seq(0.0f, 1.0f), 1.0),
      (7L, Seq(0.0f, 0.0f), 0.0),                  // zero-norm centroid: sim 0 vs everything
      (5L, Seq(-1.0f, 0.0f), 1.0)))
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),                     // → 3
      (2L, Array(0.0f, 2.0f)),                     // → 1
      (3L, Array(-1.0f, -0.0f)),                   // all others negative → 5
      (4L, Array(0.0f, 0.0f)),                     // zero-norm row: all sims 0 → lowest cid
      (5L, null.asInstanceOf[Array[Float]]),       // null row → lowest cid
      (6L, Array(0.7071f, 0.7071f))                // exact tie 3 vs 1 → lowest cid
    ).toDF("id", "v")
    def run(codegen: Boolean): Map[Long, Long] = {
      val prevW = spark.conf.get("spark.sql.codegen.wholeStage")
      val prevF = spark.conf.get("spark.sql.codegen.factoryMode")
      try {
        spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
        spark.conf.set("spark.sql.codegen.factoryMode",
          if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
        vecs.select($"id",
            GraftExpressions.nearestInCell($"v",
              sqrt(coalesce(GraftExpressions.dot($"v", $"v"), lit(0.0))),
              cell).as("cid"))
          .as[(Long, Long)].collect().toMap
      } finally {
        spark.conf.set("spark.sql.codegen.wholeStage", prevW)
        spark.conf.set("spark.sql.codegen.factoryMode", prevF)
      }
    }
    val gen = run(true); val interp = run(false)
    assert(gen == interp, s"codegen $gen != interpreted $interp")
    assert(gen == Map(1L -> 3L, 2L -> 1L, 3L -> 5L, 4L -> 1L, 5L -> 1L, 6L -> 1L))
  }

  test("NearestInCell == join+partial-agg argmax, bit-exact on random cells") {
    // the formulation Catch 10 replaced, reproduced declaratively: the
    // expression must pick the same cid with the same doubles on random
    // float vectors across cell sizes (incl. the 1-centroid floor)
    val rnd = new scala.util.Random(7)
    for (m <- Seq(1, 2, 9, 33)) {
      val cents = (0 until m).map(i => (i * 3L + 1, Array.fill(8)(rnd.nextFloat() * 4 - 2)))
      val rows = (0 until 50).map(i => (100L + i, Array.fill(8)(rnd.nextFloat() * 4 - 2)))
      val centDf = cents.toDF("cid", "cv")
        .select($"cid", $"cv", sqrt(GraftExpressions.dot($"cv", $"cv")).as("cn"))
      val rowDf = rows.toDF("id", "v")
        .select($"id", $"v", sqrt(GraftExpressions.dot($"v", $"v")).as("vn"))
      val cellDf = centDf.agg(collect_list(struct($"cid", $"cv", $"cn")).as("cell"))
      val fast = rowDf.crossJoin(cellDf)
        .select($"id", GraftExpressions.nearestInCell($"v", $"vn", $"cell").as("cid"))
        .as[(Long, Long)].collect().toMap
      val ref = rowDf.crossJoin(centDf)
        .withColumn("sim", when($"vn" * $"cn" > 0,
          GraftExpressions.dot($"v", $"cv") / ($"vn" * $"cn")).otherwise(lit(0.0)))
        .groupBy($"id")
        .agg(max(struct(struct($"sim", -$"cid").as("k"), $"cid".as("p"))).as("m"))
        .select($"id", $"m.p".as("cid")).as[(Long, Long)].collect().toMap
      assert(fast == ref, s"cell size $m: expression disagrees with join+argmax")
    }
  }

  test("NearestInCell fails loudly on dimension mismatch and empty cells") {
    val cell = typedlit(Seq((1L, Seq(1.0f, 0.0f, 0.0f), 1.0)))
    val bad = Seq((1L, Array(1.0f, 2.0f))).toDF("id", "v")
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    val e1 = intercept[Exception](
      bad.select(GraftExpressions.nearestInCell($"v", lit(1.0), cell)).collect())
    assert(chain(e1).exists(c => Option(c.getMessage).exists(_.contains("dimension mismatch"))),
      s"expected a dimension-mismatch error, got: $e1")
    val empty = typedlit(Seq.empty[(Long, Seq[Float], Double)])
    val e2 = intercept[Exception](
      bad.select(GraftExpressions.nearestInCell($"v", lit(1.0), empty)).collect())
    assert(chain(e2).exists(c => Option(c.getMessage).exists(_.contains("empty cell"))),
      s"expected an empty-cell error, got: $e2")
  }

  test("BucketCosineTopPairs == declarative all-pairs cosine top-k, bit-exact") {
    // random float vectors, several bucket sizes incl. the ≥2 floor;
    // the expression's (dot / norms, tie on (id_a, id_b) lex) must
    // reproduce the declarative formulation byte-for-byte — the LSH
    // top-pairs multi-bucket dedup relies on identical doubles across
    // buckets. Ids deliberately ABOVE 2³¹: the two-long pair identity
    // must be exact where the r9 packed-long form corrupted.
    val rnd = new scala.util.Random(42)
    val base = 3000000000L // > 2^31
    for (b <- Seq(2, 3, 17); k <- Seq(1, 5, 40)) {
      val vecs = (0 until b).map(i =>
        (base + i * 7, Array.fill(8)(rnd.nextFloat() * 4 - 2)))
      val df = vecs.toDF("id", "v")
      val fast = df
        .agg(collect_list(struct($"id", $"v")).as("entries"))
        .select(explode(GraftExpressions.bucketTopPairs($"entries", k)).as("p"))
        .select($"p.id_a", $"p.id_b", $"p.sim").as[(Long, Long, Double)].collect().toSeq
      val withNorm = df.select($"id", $"v",
        sqrt(GraftExpressions.dot($"v", $"v")).as("n"))
      val ref = withNorm.as("a").join(withNorm.as("b"), $"a.id" < $"b.id")
        .select(
          when($"a.n" * $"b.n" > 0,
            GraftExpressions.dot($"a.v", $"b.v") / ($"a.n" * $"b.n"))
            .otherwise(lit(0.0)).as("sim"),
          $"a.id".as("id_a"), $"b.id".as("id_b"))
        .orderBy(desc("sim"), asc("id_a"), asc("id_b")).limit(k)
        .select($"id_a", $"id_b", $"sim").as[(Long, Long, Double)].collect().toSeq
      assert(fast == ref, s"b=$b k=$k:\nfast=$fast\nref =$ref")
    }
  }

  test("BucketCosineTopPairs fails loudly past maxBucket, with the remedy in the message") {
    // the error path itself is part of the contract (VERDICT r9 ask #5):
    // a data-dependent skew must surface the knobs, not a bare require
    val vecs = (0 until 10).map(i => (i.toLong, Array.fill(4)(i.toFloat + 1)))
    val df = vecs.toDF("id", "v")
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    val e = intercept[Exception](
      df.agg(collect_list(struct($"id", $"v")).as("entries"))
        .select(GraftExpressions.bucketTopPairs($"entries", 5, maxBucket = 8))
        .collect())
    val msgs = chain(e).flatMap(c => Option(c.getMessage))
    assert(msgs.exists(m => m.contains("exceeds maxBucket=8") &&
      m.contains("raise nbits") && m.contains("semantic dedup")),
      s"expected the capped-bucket message with remedies, got: $e")
    // a cap at exactly the bucket size passes — the bound is inclusive
    val ok = df.agg(collect_list(struct($"id", $"v")).as("entries"))
      .select(explode(GraftExpressions.bucketTopPairs($"entries", 5, maxBucket = 10)))
      .count()
    assert(ok == 5)
  }

  test("BucketCosineTopPairs fails loudly on mixed embedding widths") {
    val mixed = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(1.0f, 2.0f, 3.0f)))
      .toDF("id", "v")
    val e = intercept[Exception](
      mixed.agg(collect_list(struct($"id", $"v")).as("entries"))
        .select(GraftExpressions.bucketTopPairs($"entries", 5)).collect())
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(e).exists(c => Option(c.getMessage).exists(_.contains("dimension mismatch"))),
      s"expected a dimension-mismatch error, got: $e")
  }

  test("ClusterDropIds == the join-formulated SemDeDup drop rule, exactly") {
    // random clusters with planted near-duplicates, a repeated id, and
    // a null vector; the expression must reproduce the reference
    // formulation (strict a.id < b.id, cos >= θ) drop set exactly —
    // semanticDedup's oracle correctness rests on this equivalence
    val rnd = new scala.util.Random(7)
    val base = 3000000000L // ids above 2^31
    for (b <- Seq(2, 5, 23); thr <- Seq(0.5, 0.95)) {
      val raw = (0 until b).map { i =>
        val v = Array.fill(8)(rnd.nextFloat() * 4 - 2)
        (base + i * 3, v)
      }
      // plant: a near-copy of entry 0 at a HIGHER id, a repeated id
      // (same id, different vector), and a null vector row
      val planted = raw ++ Seq(
        (base + b * 3 + 1, raw.head._2.map(x => x * 1.000001f)),
        (raw(1)._1, Array.fill(8)(rnd.nextFloat() * 4 - 2)),
        (base + b * 3 + 2, null: Array[Float]))
      // ... and a NULL-ID row carrying a near-copy of entry 0's vector:
      // under the join rule a null id pairs with nothing (null < x is
      // null), so it can neither drop nor be dropped — an unguarded
      // getLong(0) would read it as id 0, crown it the cluster's lowest
      // id, and wrongly drop entry 0's whole near-dup neighborhood
      val nullIdRow = Seq((0L, raw.head._2.map(x => x * 1.000002f)))
        .toDF("id", "v").select(lit(null).cast("long").as("id"), $"v")
      val df = planted.toDF("id", "v").unionByName(nullIdRow)
      val fast = df.agg(collect_list(struct($"id", $"v")).as("entries"))
        .select(explode(GraftExpressions.clusterDropIds($"entries", thr)).as("id"))
        .as[Long].collect().toSet
      val withNorm = df.filter($"v".isNotNull).select($"id", $"v",
        sqrt(GraftExpressions.dot($"v", $"v")).as("n"))
      val ref = withNorm.as("a").join(withNorm.as("b"), $"a.id" < $"b.id")
        .filter($"a.n" * $"b.n" > 0 &&
          GraftExpressions.dot($"a.v", $"b.v") / ($"a.n" * $"b.n") >= thr)
        .select($"b.id").distinct().as[Long].collect().toSet
      assert(fast == ref, s"b=$b thr=$thr:\nfast=$fast\nref =$ref")
      // the planted near-copy must be in the drop set at 0.95
      if (thr == 0.95) assert(fast.contains(base + b * 3 + 1))
    }
    // maxCluster guard carries the k-knob remedy
    val vecs = (0 until 10).map(i => (i.toLong, Array.fill(4)(i.toFloat + 1)))
    val e = intercept[Exception](
      vecs.toDF("id", "v").agg(collect_list(struct($"id", $"v")).as("entries"))
        .select(GraftExpressions.clusterDropIds($"entries", 0.9, maxCluster = 8))
        .collect())
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(e).exists(c => Option(c.getMessage).exists(_.contains("n/5000"))),
      s"expected the k-knob remedy in the error, got: $e")
  }

  test("MinHashSig: deterministic, length k, more-similar sets share more slots") {
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w11"),  // 1 word off
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")).toDF("id", "text")
    val sigs = df.select($"id",
      TextFunctions.minhashSignature(TextFunctions.shingleSet($"text", 2), 32).as("s"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs.values.forall(_.length == 32))
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y }
    assert(agree(sigs(1L), sigs(2L)) > agree(sigs(1L), sigs(3L)))
    val again = df.select($"id",
      TextFunctions.minhashSignature(TextFunctions.shingleSet($"text", 2), 32).as("s"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs == again)
  }

  test("graft functions usable from SQL after registration") {
    GraftExpressions.register(spark)
    texts.createOrReplaceTempView("t_expr")
    val n = spark.sql(
      """SELECT graft_simhash(graft_shingles(text, 1, false)) AS h FROM t_expr""").count()
    assert(n == 8)
  }

  /** One literal call per [[GraftExpressions.functions]] row. */
  private lazy val literalArgs: Map[String, String] = {
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(16)
    bloom.putLong(42L)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val markers = "array(named_struct('code', 'en', 'words', array('the')))"
    val entries = "array(named_struct('id', 1L, 'v', array(1D, 0D)), " +
      "named_struct('id', 2L, 'v', array(1D, 0D)))"
    val codebook = "array(array(array(1D, 0D), array(0D, 1D)), " +
      "array(array(0D, 1D), array(1D, 1D)))"
    Map(
      "graft_dot" -> "array(1D, 2D), array(3D, 4D)",
      "graft_minhash" -> "array('a b', 'b c'), 4",
      "graft_simhash" -> "array('a', 'b')",
      "graft_simhash_md5" -> "array('a', 'b')",
      "graft_lsh_bits" -> "array(1D, -1D), 4, 2",
      "graft_shingles" -> "'the quick brown fox', 2, true",
      "graft_shingle_hashes" -> "'the quick brown fox', 2",
      "graft_intersect_count" -> "array(1L, 2L, 3L), array(2L, 3L, 4L)",
      "graft_ordered_pairs" -> "array(3L, 1L, 2L)",
      "graft_rolling_hash" -> "array('a', 'b')",
      "graft_bpe_count" -> "array('low', 'lower'), array(named_struct('a', 'l', 'b', 'o'))",
      "graft_text_marker_stats" -> s"'the cat sat.', $markers",
      "graft_text_quality_gate" -> s"'the cat sat.', $markers, 0.0D, 'en'",
      "graft_sumprod128" -> "2L, 3L",
      "graft_sumdec128" -> "CAST(1.25 AS DECIMAL(18,2))",
      "graft_topk" -> "0.5D, 7L, 2",
      "graft_bloom_contains" -> s"42L, X'${bos.toByteArray.map("%02X".format(_)).mkString}'",
      "graft_nearest_centroid" -> ("array(1D, 0D), array(named_struct('cid', 0L, " +
        "'cv', array(0D, 1D)), named_struct('cid', 1L, 'cv', array(1D, 0D)))"),
      "graft_nearest_in_cell" -> ("array(1D, 0D), 1D, array(named_struct('cid', 0L, " +
        "'cv', array(1D, 0D), 'cn', 1D))"),
      "graft_pq_encode" -> s"array(1D, 0D, 0D, 1D), $codebook",
      "graft_pq_lut" -> s"array(1D, 0D, 0D, 1D), $codebook",
      "graft_pq_adc" -> "array(0, 1), array(1D, 2D, 3D, 4D), 2",
      "graft_bucket_top_pairs" -> s"$entries, 1",
      "graft_top_pairs" -> "0.5D, 1L, 2L, 1",
      "graft_cluster_drop_ids" -> s"$entries, 0.9")
  }

  /** Calls every table row by name on `s`: each must resolve, build its
    * listed class and evaluate; returns the result row per name. */
  private def callEveryFunction(s: SparkSession): Map[String, Row] =
    GraftExpressions.functions.map { f =>
      val df = s.sql(s"SELECT ${f.name}(${literalArgs(f.name)}) AS r")
      val built = df.queryExecution.analyzed.expressions
        .flatMap(_.collect { case e if f.cls.isInstance(e) => e })
      assert(built.nonEmpty, s"${f.name} did not build a ${f.cls.getSimpleName}")
      f.name -> df.collect().head
    }.toMap

  test("function table rows resolve and evaluate: registered, extensions-only") {
    assert(literalArgs.keySet == GraftExpressions.functions.map(_.name).toSet)
    GraftExpressions.register(spark)
    val registered = callEveryFunction(spark)
    assert(registered("graft_dot").getDouble(0) == 11.0)
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val extOnly = SparkSession.builder()
        .withExtensions(new GraftExtensions().apply(_)).getOrCreate()
      assert(extOnly ne spark)
      assert(callEveryFunction(extOnly) == registered)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  test("bad SQL arguments fail analysis naming the function and the parameter") {
    GraftExpressions.register(spark)
    def condition(sql: String): (String, String) = {
      val e = intercept[AnalysisException](spark.sql(sql).collect())
      (e.getCondition, e.getMessage)
    }
    val (arity, arityMsg) = condition("SELECT graft_minhash(array('a'))")
    assert(arity == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION" && arityMsg.contains("`graft_minhash`"),
      arityMsg)
    val (nonLit, nonLitMsg) =
      condition("SELECT graft_minhash(array('a'), k) FROM VALUES (4) AS t(k)")
    assert(nonLit == "NON_FOLDABLE_ARGUMENT" &&
      nonLitMsg.contains("`graft_minhash`") && nonLitMsg.contains("`k`"), nonLitMsg)
    // a BIGINT literal is accepted when it fits in an INT, rejected past it
    assert(spark.sql("SELECT graft_minhash(array('a'), 4L)").head.getSeq[Long](0).length == 4)
    val (big, bigMsg) = condition("SELECT graft_minhash(array('a'), 4294967296L)")
    assert(big == "INVALID_PARAMETER_VALUE.INTEGER" &&
      bigMsg.contains("`graft_minhash`") && bigMsg.contains("`k`"), bigMsg)
    val (thr, thrMsg) = condition(
      "SELECT graft_cluster_drop_ids(array(named_struct('id', 1L, 'v', array(1D))), 'high')")
    assert(thr == "INVALID_PARAMETER_VALUE.DOUBLE" && thrMsg.contains("`threshold`"), thrMsg)
  }

  test("Column helpers resolve on a DataFrame of a session that is not active") {
    SparkSession.setActiveSession(spark)
    val other = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("graft-q1").toString
    Seq(
      ("R", "F", 17.0, 21168.23, 0.04, 0.02, java.sql.Timestamp.valueOf("1996-03-13 00:00:00")),
      ("N", "O", 36.0, 45983.16, 0.09, 0.06, java.sql.Timestamp.valueOf("1996-04-12 00:00:00")),
      ("R", "F", 8.0, 13309.60, 0.10, 0.02, java.sql.Timestamp.valueOf("1998-10-01 00:00:00")))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    def results(s: SparkSession): (Seq[Row], Seq[Row]) = {
      val docs = s.createDataFrame(Seq((1L, "a b c d", Seq(1.0, 2.0)), (2L, "x y", Seq(3.0, 4.0))))
        .toDF("id", "text", "v")
      (docs.select($"id", TextFunctions.shingleSet($"text", 2),
          graft.operators.Similarity.dot($"v", $"v")).orderBy("id").collect().toSeq,
        graft.queries.SqlSurface.q1PricingSummary(s, dir).collect().toSeq)
    }
    val onOther = results(other)
    assert(SparkSession.active eq spark)
    assert(onOther == results(spark))
    assert(onOther._2.nonEmpty)
  }

  test("PqEncode/PqLut/PqAdc generated code == interpreted eval, hand-checked") {
    // the PQ stages are kernels for the same reason NearestCentroid is:
    // the composed-Column formulation generated > 64 KB of source at
    // m·ks = 512 and silently fell back to interpreted eval on the
    // corpus-wide encode — both execution paths share one kernel and
    // this pins them output-identical, against hand-computed codes
    // m = 2 subspaces (d = 2), ks = 2 codes each
    val cbook = typedlit(Seq(
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),   // s0: c0, c1
      Seq(Seq(0.0, 1.0), Seq(1.0, 1.0))))  // s1: c0, c1
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 1.0f)), // s0→c0, s1→c0
      (2L, Array(0.0f, 1.0f, 1.0f, 1.0f)), // s0→c1, s1→c1
      (3L, Array(1.0f, 1.0f, 0.0f, 0.0f)), // s0: exact tie → lowest j=0; s1→c0
      (4L, null.asInstanceOf[Array[Float]]) // null row → null codes/lut
    ).toDF("id", "v")
    def run(codegen: Boolean): Map[Long, (Option[Seq[Int]], Option[Double])] = {
      val prevW = spark.conf.get("spark.sql.codegen.wholeStage")
      val prevF = spark.conf.get("spark.sql.codegen.factoryMode")
      try {
        spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
        spark.conf.set("spark.sql.codegen.factoryMode",
          if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
        vecs.select($"id",
            GraftExpressions.pqEncode($"v", cbook).as("codes"),
            GraftExpressions.pqAdc(
              GraftExpressions.pqEncode($"v", cbook),
              GraftExpressions.pqLut($"v", cbook)).as("adc"))
          .as[(Long, Option[Seq[Int]], Option[Double])].collect()
          .map { case (id, c, a) => id -> (c, a) }.toMap
      } finally {
        spark.conf.set("spark.sql.codegen.wholeStage", prevW)
        spark.conf.set("spark.sql.codegen.factoryMode", prevF)
      }
    }
    val gen = run(true); val interp = run(false)
    assert(gen == interp, s"codegen $gen != interpreted $interp")
    // adc = self-reconstruction dot: row 1 → lut[c0]+lut[c0] = 1+1 = 2;
    // row 2 → ⟨(0,1),(0,1)⟩ + ⟨(1,1),(1,1)⟩ = 1+2 = 3;
    // row 3 → ⟨(1,1),(1,0)⟩ + ⟨(0,0),(0,1)⟩ = 1+0 = 1
    assert(gen == Map(
      1L -> (Some(Seq(0, 0)), Some(2.0)),
      2L -> (Some(Seq(1, 1)), Some(3.0)),
      3L -> (Some(Seq(0, 0)), Some(1.0)),
      4L -> (None, None)))
  }

  test("PQ kernels fail loudly on dimension/code mismatches") {
    val cbook = typedlit(Seq(
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
      Seq(Seq(0.0, 1.0), Seq(1.0, 1.0))))
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    val bad = Seq((1L, Array(1.0f, 0.0f, 0.0f))).toDF("id", "v") // dim 3 != 4
    val e1 = intercept[Exception] {
      bad.select(GraftExpressions.pqEncode($"v", cbook)).collect()
    }
    assert(chain(e1).exists(c => Option(c.getMessage).exists(_.contains("vector dim"))))
    val e2 = intercept[Exception] {
      Seq((Seq(5, 0), Seq(1.0, 2.0, 3.0, 4.0))).toDF("c", "l")
        .select(GraftExpressions.pqAdc($"c", $"l")).collect()
    }
    assert(chain(e2).exists(c => Option(c.getMessage).exists(_.contains("out of range"))))
    // the silent-garbage case: widths divide (4 / 2 = 2) but the caller
    // declared the lut was built at ks = 7 — must fail, not mis-score
    val e3 = intercept[Exception] {
      Seq((Seq(1, 0), Seq(1.0, 2.0, 3.0, 4.0))).toDF("c", "l")
        .select(GraftExpressions.pqAdc($"c", $"l", ks = 7)).collect()
    }
    assert(chain(e3).exists(c => Option(c.getMessage).exists(_.contains("expected 7"))))
  }

  test("round-17 text-kernel codegen ports: generated code == interpreted eval") {
    // every kernel un-fallbacked this round (MinHashSig, SimHash64,
    // Md5SimHash64, LshSignBits, RollingHash64, WordShingles,
    // WordShingleHashes, OrderedPairs, SortedIntersectCount,
    // BpeTokenCount) computed over one projection in BOTH execution
    // modes — CODEGEN_ONLY makes a generation failure a test failure
    // instead of a silent interpreted fallback. Includes null text and
    // null vector rows (the generated null branch).
    val df = texts.unionByName(Seq((9L, null.asInstanceOf[String])).toDF("id", "text"))
      .withColumn("vec",
        when($"id" === 9L, lit(null).cast("array<float>"))
          .otherwise(array((0 until 8).map(i => ($"id" + i).cast("float")): _*)))
    def run(codegen: Boolean): Seq[Row] = {
      val prevW = spark.conf.get("spark.sql.codegen.wholeStage")
      val prevF = spark.conf.get("spark.sql.codegen.factoryMode")
      try {
        spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
        spark.conf.set("spark.sql.codegen.factoryMode",
          if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
        df.select($"id",
            TextFunctions.shingleSet($"text", 3).as("sh"),
            TextFunctions.shingleHashes($"text", 3).as("shh"),
            TextFunctions.minhashSignature(TextFunctions.shingleSet($"text", 3), 16).as("mh"),
            TextFunctions.simhash64(TextFunctions.tokens($"text")).as("sx"),
            TextFunctions.simhashMd5(TextFunctions.tokens($"text")).as("sm"),
            TextFunctions.rollingHash($"text").as("rh"),
            TextFunctions.bpeTokenCount($"text").as("bpe"),
            GraftExpressions.lshBits($"vec", 12).as("lsh"),
            GraftExpressions.intersectCount(
              TextFunctions.shingleSet($"text", 3),
              TextFunctions.shingleSet(reverse($"text"), 3)).as("ic"),
            GraftExpressions.orderedPairs(
              TextFunctions.shingleHashes($"text", 2)).as("op"))
          .orderBy("id").collect().toSeq
      } finally {
        spark.conf.set("spark.sql.codegen.wholeStage", prevW)
        spark.conf.set("spark.sql.codegen.factoryMode", prevF)
      }
    }
    val gen = run(true); val interp = run(false)
    assert(gen.map(_.toString) == interp.map(_.toString))
    // null text propagates null through every string-rooted kernel
    val nullRow = gen.find(_.getLong(0) == 9L).get
    assert((1 to 7).forall(nullRow.isNullAt))
  }

  test("sumProd128 equals the decimal(38,0) product sum on adversarial longs") {
    import org.apache.spark.sql.functions._
    // large lattice values whose products sit near 2^63 force lo-word
    // carries on nearly every row; negatives exercise the signed hi
    // path; nulls must skip like SUM; 64 slices force merge paths.
    val rnd = new scala.util.Random(7)
    val rows = (1 to 50000).map { i =>
      val x = if (i % 97 == 0) null
        else java.lang.Long.valueOf((rnd.nextLong() % 3000000000L) + (i % 5) - 2)
      val y = if (i % 131 == 0) null
        else java.lang.Long.valueOf((rnd.nextLong() % 2999999999L) - (i % 3))
      (x, y)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => org.apache.spark.sql.Row(r._1, r._2)), 64),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType, true),
        org.apache.spark.sql.types.StructField("y", org.apache.spark.sql.types.LongType, true))))
    val got = df.agg(
      GraftExpressions.sumProd128(col("x"), col("y")).as("sp"),
      GraftExpressions.sumProd128(col("x"), col("x")).as("ss"),
      GraftExpressions.sumProd128(col("x"), lit(1L)).as("s"))
      .collect().head
    val want = df.agg(
      sum(col("x").cast("decimal(38,0)") * col("y").cast("decimal(38,0)")).as("sp"),
      sum(col("x").cast("decimal(38,0)") * col("x").cast("decimal(38,0)")).as("ss"),
      sum(col("x").cast("decimal(38,0)")).as("s"))
      .collect().head
    assert(got.getDecimal(0).compareTo(want.getDecimal(0)) == 0,
      s"sp: got ${got.getDecimal(0)} want ${want.getDecimal(0)}")
    assert(got.getDecimal(1).compareTo(want.getDecimal(1)) == 0)
    assert(got.getDecimal(2).compareTo(want.getDecimal(2)) == 0)
    // empty input: 0 by contract (SUM's null is the caller's guard)
    val empty = df.filter(lit(false))
      .agg(GraftExpressions.sumProd128(col("x"), col("y"))).collect().head
    assert(empty.getDecimal(0).longValueExact() == 0L)
    // grouped: per-group exactness with map-side partial merges
    val g = df.withColumn("k", pmod(coalesce(col("x"), lit(0L)), lit(7L)))
    val gGot = g.groupBy("k").agg(
      GraftExpressions.sumProd128(col("x"), col("y")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val gWant = g.groupBy("k").agg(
      sum(col("x").cast("decimal(38,0)") * col("y").cast("decimal(38,0)")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    assert(gGot.keySet == gWant.keySet)
    gGot.foreach { case (k, v) =>
      val w = gWant(k)
      if (w == null) assert(v.longValueExact() == 0L)
      else assert(v.compareTo(w) == 0, s"group $k: got $v want $w")
    }
  }

  test("sumDec128 is bit-identical to the builtin decimal SUM (dsum/dsum6 contract)") {
    import org.apache.spark.sql.functions._
    // adversarial doubles through the HALF_UP cast: tie-rounding values
    // (2.675 etc.), negatives, nulls (SUM-skip), tiny/huge magnitudes;
    // 64 slices force merge paths; grouped + global + all-NULL and
    // empty groups pin the NULL contract.
    val rnd = new scala.util.Random(13)
    val rows = (1 to 60000).map { i =>
      val v: java.lang.Double =
        if (i % 89 == 0) null
        else if (i % 7 == 0) java.lang.Double.valueOf((i % 1000) + 0.675)
        else if (i % 11 == 0) java.lang.Double.valueOf(-(i % 997) - 0.005)
        else java.lang.Double.valueOf(rnd.nextDouble() * 200000.0 - 100000.0)
      (i.toLong, v)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => org.apache.spark.sql.Row(r._1, r._2)), 64),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType, true))))
    for (dt <- Seq("decimal(18,2)", "decimal(22,6)", "decimal(38,0)")) {
      val got = df.agg(
        GraftExpressions.sumDec128(col("v").cast(dt)).cast("double").as("s"),
        GraftExpressions.sumDec128(col("v").cast(dt)).as("d")).collect().head
      val want = df.agg(
        sum(col("v").cast(dt)).cast("double").as("s"),
        sum(col("v").cast(dt)).as("d")).collect().head
      assert(got.getDouble(0) == want.getDouble(0), s"$dt double: got $got want $want")
      assert(got.getDecimal(1).compareTo(want.getDecimal(1)) == 0,
        s"$dt decimal: got ${got.getDecimal(1)} want ${want.getDecimal(1)}")
      // grouped with map-side partial merges; group 0 made all-NULL to
      // pin SUM's NULL (not 0) on a non-empty group
      val g = df.withColumn("k", pmod(col("id"), lit(13L)))
        .withColumn("v", when(pmod(col("id"), lit(13L)) === 0, lit(null)).otherwise(col("v")))
      val gGot = g.groupBy("k")
        .agg(GraftExpressions.sumDec128(col("v").cast(dt)).cast("double").as("s"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
      val gWant = g.groupBy("k").agg(sum(col("v").cast(dt)).cast("double").as("s"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
      assert(gGot == gWant, s"$dt grouped: got $gGot want $gWant")
      assert(gGot(0L) == null, "all-NULL group must sum to NULL")
    }
    // empty input: NULL like SUM
    val empty = df.filter(lit(false))
      .agg(GraftExpressions.sumDec128(col("v").cast("decimal(22,6)"))).collect().head
    assert(empty.isNullAt(0))
  }
}
