package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up fixture generator for the scale-growth
  * rehearsal (SCALE_CURVE.md): derives an sf(0.1·k) fixture from the
  * driver's read-only sf0.1 by writing k structure-preserving replicas
  * of the tables the rehearsal keys touch.
  *
  * The point is a FAIR curve: each replica must add data without
  * changing the workload's *shape* — the per-document duplicate rate,
  * the per-vector neighbor count, the per-key update ratio all stay
  * constant as the corpus grows, so a super-linear wall-time curve
  * indicts the operator, not the generator. Replica r≥1 therefore maps
  * content through a per-replica ISOMETRY rather than copying it:
  *
  *  - `documents`: every token gets a replica tag (`_r<k>` appended via
  *    one regexp pass over `\S+` — the same Java `\s` class the
  *    shingle/minhash tokenizer splits on). Within-replica span and
  *    MinHash structure is IDENTICAL to the source corpus (token
  *    mapping is a bijection, and shingle equality is invariant under
  *    it); across replicas the vocabularies are disjoint, so no new
  *    near-dup pairs appear and the dup fraction stays exactly sf0.1's.
  *    Disjointness assumes no SOURCE token already ends in `_r<digits>`
  *    (such a token would collide with a replica image of its stem) —
  *    verified against sf0.1: zero matches for `_r[0-9]+$`.
  *  - `embeddings`: coordinates multiplied by a per-replica ±1 sign
  *    vector (seeded by the replica index). A sign flip is an isometry
  *    of the dot product — within-replica cosines are bit-preserved —
  *    while the cosine between x and x⊙s for random s concentrates
  *    around 0, so replicas don't manufacture cross-replica neighbors.
  *  - `orders` / `customer`: keys shifted by a replica stride divisible
  *    by 3 (w6's delta split filters on `o_orderkey % 3`, which must
  *    keep its source proportions); payload columns ride unchanged.
  *  - `events`: replicas add USERS (event_id and user_id shifted, ts
  *    unchanged) — per-user session/funnel structure is preserved while
  *    rows-per-day scale ×k, the way real traffic grows.
  *  - `lineitem` / `part` / `supplier`: one consistent key stride keeps
  *    every join intact and every per-key fan-in at its source
  *    distribution (TPC-H itself scales part/supplier with SF).
  *    `region`/`nation` are fixed dims at every SF — copied, not
  *    replicated.
  *
  * Usage: runMain graft.tools.GenScale <srcSfDir> <outDir> <k>
  * (k=10 over sf0.1 ≈ sf1: 50k docs, 20k vectors, 1.5M orders.)
  * Output lands under <outDir>/<table>.parquet as DIRECTORIES — the
  * rehearsal reads through Tables.load, which accepts both layouts.
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: GenScale <srcSfDir> <outDir> <k>")
    val Array(src, out, kStr) = args
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "32",
      "graft-genscale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, out, kStr.toInt)
    spark.stop()
  }

  /** Session-reusing entry point — Bench calls this in-process to
    * provision the standing sf1 fixture without tearing down its own
    * SparkSession (main() above owns session lifecycle for the CLI). */
  def generate(spark: SparkSession, src: String, out: String, k: Int): Unit = {
    // Cap = 1 (untagged r=0) + 35 one-symbol supplier tags + 35*35
    // two-symbol tags (see supplierTag below — every pair of distinct
    // tags still differs in >= 3 positions). The document token tags
    // `_r<k>` are multi-digit-safe at any k (append is injective and
    // two tags of different value always differ in their trailing
    // 3 chars).
    require(k >= 1 && k <= 1 + 35 + 35 * 35)

    // strides comfortably above any source key range, divisible by 3
    val stride = 30000000L

    def replicas(base: DataFrame, f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(r => f(base, r)).reduce(_ unionAll _)

    val docs = graft.Tables.load(spark, src, "documents")
    replicas(docs, { (d, r) =>
      if (r == 0) d
      else d.select(
        (col("doc_id") + r * stride).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1_r" + r).as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
        .select("doc_id", "text", "lang", "source", "n_chars")
    }).repartition(k * 4).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = graft.Tables.load(spark, src, "embeddings")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    replicas(emb, { (e, r) =>
      if (r == 0) e
      else {
        val rnd = new scala.util.Random(7700 + r)
        val flips = Array.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
        e.select((col("vec_id") + r * stride).as("vec_id"),
          zip_with(col("embedding"), lit(flips), (x, s) => x * s).as("embedding"),
          col("label"))
      }
    }).repartition(k * 2).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // tables whose replicas only shift keys. events: replica r shifts
    // event_id AND user_id — the corpus gains USERS, not
    // events-per-user, so session lengths, funnel conversion, and
    // per-user feature shapes stay exactly sf0.1's while rows/day scale
    // ×k (how real traffic grows); ts rides unchanged. lineitem + part
    // (+ supplier below): one consistent stride on every key so all
    // joins stay intact and per-key fan-ins (lines per order, lines per
    // part, parts per supplier) keep their source distribution —
    // mirroring how TPC-H itself scales part/supplier with SF.
    def shifted(table: String, partitions: Int, keys: String*): Unit =
      replicas(graft.Tables.load(spark, src, table), (t, r) =>
        if (r == 0) t else keys.foldLeft(t)((d, c) => d.withColumn(c, col(c) + r * stride))
      ).repartition(partitions).write.mode("overwrite").parquet(s"$out/$table.parquet")
    shifted("orders", k * 8, "o_orderkey", "o_custkey")
    shifted("customer", k * 2, "c_custkey")
    shifted("events", k * 8, "event_id", "user_id")
    shifted("lineitem", k * 8, "l_orderkey", "l_partkey", "l_suppkey")
    shifted("part", k, "p_partkey")

    // supplier names feed the edit-distance join (x_fuzzy_join), so the
    // payload must be disambiguated too: k verbatim copies of every
    // name would make each probe TRULY match all k replicas — the
    // result set itself (and any correct join's cost) would grow
    // quadratically, indicting the fixture, not the operator. A common
    // suffix preserves within-replica pairwise edit distances exactly
    // (levenshtein is prefix/suffix-invariant), and the per-replica tag
    // (supplierTag) keeps every pair of DISTINCT tags >= 3 apart, so
    // cross-replica distances exceed any small join threshold.
    val supp = graft.Tables.load(spark, src, "supplier")
    replicas(supp, { (s, r) =>
      if (r == 0) s
      else s.withColumn("s_suppkey", col("s_suppkey") + r * stride)
        .withColumn("s_name", concat(col("s_name"), lit(supplierTag(r))))
    }).repartition(k).write.mode("overwrite").parquet(s"$out/supplier.parquet")

    // region/nation are FIXED dimensions at every TPC-H scale factor —
    // copied once, never replicated.
    for (t <- Seq("region", "nation"))
      graft.Tables.load(spark, src, t).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    println(s"[genscale] wrote ${k}x replicas of documents/embeddings/orders/" +
      s"customer/events/lineitem/part/supplier (+fixed region/nation) to $out")
    // provenance marker, written LAST (its presence implies a complete
    // fixture): consumers that reuse a fixture across runs (Bench's
    // standing sf1 section) must be able to tell a 10x-of-sf0.1 from a
    // 10x-of-whatever a previous invocation happened to scale — reusing
    // a mismatched fixture would silently publish wrong numbers under
    // the right label. Written through the SAME Hadoop FileSystem as
    // the data — a java.nio write would land the marker on the local
    // disk (or throw) for an hdfs://-or-s3a:// out URI, and every
    // reuse check would then see "stale" and regenerate forever.
    val markerPath = new org.apache.hadoop.fs.Path(out, "_genscale.json")
    val fs = markerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(markerPath, true)
    try os.write(marker(src, k).getBytes("UTF-8")) finally os.close()
  }

  /** Canonical marker content for a fixture derived as `k`× `src`. */
  def marker(src: String, k: Int): String = s"""{"src":"$src","k":$k}"""

  /** 35 tag symbols; replica r=0 is untagged. Symbols 1-9 match the
    * historic digit tags; a-z extend the alphabet. */
  private val tagSyms = "123456789abcdefghijklmnopqrstuvwxyz"

  /** The supplier-name suffix for replica `r >= 1`: `~ccc` (one symbol
    * repeated 3x) for the first 35 replicas — byte-identical to the
    * historic tags so pre-existing fixtures stay valid — then `~cccddd`
    * (two base-35 digits, each repeated 3x) beyond. Any two DISTINCT
    * tags differ in >= 3 positions: same-length tags differ in at least
    * one repeated symbol (3 substitutions), and a one- vs two-symbol
    * tag pair differs by the 3-char length gap alone. Against the
    * untagged r=0 the distance is the full tag length (>= 4). */
  private[tools] def supplierTag(r: Int): String = {
    val i = r - 1
    if (i < 35) "~" + tagSyms(i).toString * 3
    else {
      val j = i - 35
      "~" + tagSyms(j / 35).toString * 3 + tagSyms(j % 35).toString * 3
    }
  }
}
