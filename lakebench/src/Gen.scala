package lakebench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every column is a pure function of
  * (seed, row id[, version]) built from hash expressions, so an input is
  * the same whatever the partitioning, and a reference can regenerate it
  * without going through the engine's layers. */
object Gen {
  val Days = 30
  val BaseEpoch = 1704067200L // 2024-01-01T00:00:00Z
  val EventTypes = Seq("view", "click", "cart", "purchase", "search")

  private def h(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64((cs :+ lit(seed * 1000003L + salt)): _*)
  private def uniform(seed: Long, salt: Int, n: Long, cs: Column*): Column =
    pmod(h(seed, salt, cs: _*), lit(n))

  /** `events` rows for ids [lo, hi) at payload `version` (0 = first
    * write; an upsert rewrites a key at a higher version). `day` (1..30)
    * is the partition column and agrees with `ts`. */
  def events(spark: SparkSession, seed: Long, lo: Long, hi: Long, version: Int,
      parts: Int): DataFrame = {
    val id = col("id")
    val offset = uniform(seed, 1, Days * 86400L, id)
    spark.range(lo, hi, 1, parts).select(
      id.as("event_id"),
      timestamp_seconds(lit(BaseEpoch) + offset).as("ts"),
      uniform(seed, 2, 5000L, id).as("user_id"),
      element_at(typedlit(EventTypes), (uniform(seed, 3, EventTypes.size.toLong, id) + 1).cast("int"))
        .as("event_type"),
      eventValue(seed, id, lit(version)).as("value"),
      concat(lit("{\"v\":"), lit(version).cast("string"), lit(",\"k\":"),
        uniform(seed, 4, 97L, id).cast("string"), lit("}")).as("props"),
      (floor(offset / 86400L) + 1).cast("int").as("day"))
  }

  def eventValue(seed: Long, id: Column, version: Column): Column =
    uniform(seed, 5, 1000000L, id, version).cast("double") / 100.0

  /** Order-insensitive checksum of (key, payload) rows; never overflows. */
  def checksum(key: Column, payload: Column): Column =
    sum(pmod(xxhash64(key, payload), lit(1000000007L)))

  /** `lineitem`-shaped rows for order keys [0, orders), 1..4 lines each
    * (line count is a function of the order key). */
  def lineitem(spark: SparkSession, seed: Long, orders: Long, parts: Int): DataFrame = {
    val ok = col("id")
    spark.range(0, orders, 1, parts)
      .select(ok, explode(sequence(lit(1), (uniform(seed, 10, 4L, ok) + 1).cast("int"))).as("ln"))
      .select(
        col("id").as("l_orderkey"),
        uniform(seed, 11, 20000L, col("id"), col("ln")).as("l_partkey"),
        col("ln").cast("int").as("l_linenumber"),
        (uniform(seed, 12, 50L, col("id"), col("ln")) + 1).cast("double").as("l_quantity"),
        (uniform(seed, 13, 10000000L, col("id"), col("ln")).cast("double") / 100.0)
          .as("l_extendedprice"),
        (uniform(seed, 14, 11L, col("id"), col("ln")).cast("double") / 100.0).as("l_discount"),
        element_at(typedlit(Seq("A", "N", "R")),
          (uniform(seed, 15, 3L, col("id"), col("ln")) + 1).cast("int")).as("l_returnflag"),
        date_add(lit("1994-01-01").cast("date"),
          uniform(seed, 16, 2400L, col("id")).cast("int")).as("l_shipdate"))
  }

  def orders(spark: SparkSession, seed: Long, orders: Long, parts: Int): DataFrame = {
    val ok = col("id")
    spark.range(0, orders, 1, parts).select(
      ok.as("o_orderkey"),
      uniform(seed, 20, 15000L, ok).as("o_custkey"),
      element_at(typedlit(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
        (uniform(seed, 21, 5L, ok) + 1).cast("int")).as("o_orderpriority"),
      (uniform(seed, 22, 50000000L, ok).cast("double") / 100.0).as("o_totalprice"))
  }

  // ------------------------------------------------------------ documents
  /** Deterministic vocabulary of distinct lowercase words. */
  lazy val Vocab: Array[String] = {
    val rnd = new scala.util.Random(7919L)
    val syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
      "dor", "fen", "gul", "hix", "jun", "mar", "pel", "quo", "ster", "wyn")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 6000)
      seen += (1 to 2 + rnd.nextInt(3)).map(_ => syl(rnd.nextInt(syl.length))).mkString
    seen.toArray
  }
  val Stopwords = Seq("the", "of", "and", "is", "to", "in", "a")
  val WordsPerDoc = 60
  /** Documents come in groups of ten with fixed roles, so every expected
    * count of the curation pipeline is known without running it:
    *   0-5 unique documents, 6 junk (fails the quality gate),
    *   7 exact copy of 0, 8 near copy of 1, 9 near copy of 2. */
  val GroupSize = 10
  val KeptAfterGate = 9
  val KeptAfterExact = 8
  val NearPairs = 2
  val Curated = 6

  /** Whether (a, b), a < b, is a planted near-duplicate pair. */
  def isNearPair(a: Long, b: Long): Boolean =
    b - a == 7 && (a % GroupSize == 1 || a % GroupSize == 2)

  def documents(spark: SparkSession, seed: Long, lo: Long, hi: Long, parts: Int): DataFrame = {
    val id = col("id")
    val pos = pmod(id, lit(GroupSize.toLong))
    val base = id - pos
    val cid = when(pos === 7, base).when(pos === 8, base + 1).when(pos === 9, base + 2).otherwise(id)
    val vocab = typedlit(Vocab.toSeq)
    val stops = typedlit(Stopwords)
    def word(i: Column): Column =
      when(uniform(seed, 30, 4L, col("cid"), i) === 0,
        element_at(stops, (uniform(seed, 31, Stopwords.size.toLong, col("cid"), i) + 1).cast("int")))
        .otherwise(element_at(vocab, (uniform(seed, 32, Vocab.length.toLong, col("cid"), i) + 1).cast("int")))
    // a near copy differs in its last word only: one 3-shingle of ~58, so
    // Jaccard ~0.97 and MinHash-LSH misses such a pair with p < 1e-7
    val words = transform(sequence(lit(1), lit(WordsPerDoc)), i =>
      when(col("near") && i === WordsPerDoc, concat(lit("edit"), col("id").cast("string"))).otherwise(word(i)))
    spark.range(lo, hi, 1, parts)
      .select(id, pos.as("pos"), cid.as("cid"), (pos === 8 || pos === 9).as("near"))
      .select(
        col("id").as("doc_id"),
        when(col("pos") === 6, concat(lit("#### $$$ !!! "), col("id").cast("string"), lit(" ???")))
          .otherwise(concat_ws(" ", words)).as("text"),
        lit("en").as("lang"),
        concat(lit("src"), pmod(col("id"), lit(4L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Seeded BM25 query: three vocabulary words. */
  def query(seed: Long, i: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed * 31 + i)
    Seq.fill(3)(Vocab(rnd.nextInt(Vocab.length)))
  }
}
