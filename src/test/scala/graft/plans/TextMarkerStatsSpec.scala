package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.functions.TextFunctions

/** The fused [[TextMarkerStats]] kernel must agree EXACTLY with the
  * declarative composition it replaced (round-17) — six oracle-checked
  * queries and the streaming quality gate sit on top of it. The rows
  * here are the hostile cases: CJK override text, every Java `\s`
  * whitespace char (incl. the vertical tab RE2 disagrees on), astral-
  * plane code points (UTF-16 surrogate pairs — code-point counting must
  * not double-count), punctuation-only, empty, whitespace-only, marker
  * words with mixed case, and null. */
class TextMarkerStatsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val rows = Seq(
    (1L, "The quick brown fox, and the lazy dog; is of and to in!"),
    (2L, "der Hund und die Katze ist nicht da"),
    (3L, "你好世界你好世界 ok"),   // CJK-majority + latin
    (4L, "a\tb\ncd\fe\rf g"),                       // every \s char
    (5L, "😀 😁ok"),                  // astral emoji
    (6L, ".,;:!?.,;:!?"),
    (7L, ""),
    (8L, " \t\n "),
    (9L, "THE The the tHe")                               // case folding
  ).toDF("id", "text")
    .unionByName(Seq((10L, null.asInstanceOf[String])).toDF("id", "text"))

  // the pre-round-17 declarative reference, verbatim
  private def refWords(t: org.apache.spark.sql.Column) =
    filter(split(lower(t), "\\s+"), w => length(w) > 0)
  private def refMarker(ws: org.apache.spark.sql.Column, ms: Seq[String]) =
    size(filter(ws, w => ms.map(m => w === lit(m)).reduce(_ || _)))

  test("kernel fields == declarative composition on hostile rows") {
    val ws = refWords($"text")
    val ref = rows.select($"id",
      size(ws).as("n_words"),
      aggregate(ws, lit(0L), (acc, w) => acc + length(w)).as("sum_word_len"),
      size(regexp_extract_all($"text", lit("[\\.,;:!\\?]"), lit(0))).as("punct"),
      size(regexp_extract_all($"text", lit("[\\x{4e00}-\\x{9fff}]"), lit(0))).as("cjk"),
      refMarker(ws, TextFunctions.LangMarkers.flatMap(_._2)).as("stop"),
      array(TextFunctions.LangMarkers.map { case (_, ms) => refMarker(ws, ms) }: _*).as("marker"))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val got = rows.select($"id",
        GraftExpressions.textMarkerStats($"text",
          typedlit(TextFunctions.LangMarkers.map { case (c, ms) => (c, ms) })).as("st"))
      .select($"id", $"st.n_words", $"st.sum_word_len", $"st.punct",
        $"st.cjk", $"st.stop", $"st.marker")
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(got.keys == ref.keys)
    got.foreach { case (id, vs) =>
      if (id == 10L)
        // null text: every declarative SCALAR is null (the test's
        // array() wrapper would box them, so compare fields directly)
        // and the kernel's null struct reads as all-null fields
        assert(vs.forall(_ == null) && ref(id).take(5).forall(_ == null))
      else
        assert(vs.map(String.valueOf) == ref(id).map(String.valueOf),
          s"row $id: kernel $vs != reference ${ref(id)}")
    }
  }

  test("fused quality gate == composed predicate, every threshold x lang") {
    // composed reference evaluated in a PROJECT (CSE keeps it honest);
    // thresholds include every EXACT q value in the hostile rows, so
    // the >= boundary is bit-tested, not just straddled
    val qVals = rows.filter($"text".isNotNull)
      .select(TextFunctions.qualityScore($"text").as("q"))
      .collect().map(_.getDouble(0)).distinct.toSeq
    val thresholds = qVals ++ Seq(0.0, 0.6, 1.5)
    val langs = Seq("en", "de", "zh", "und", null)
    for (minQ <- thresholds; lang <- langs) {
      val both = rows.select($"id",
        TextFunctions.qualityGate($"text", minQ, lang).as("gate"),
        (if (lang == null) TextFunctions.qualityScore($"text") >= minQ
         else TextFunctions.qualityScore($"text") >= minQ &&
           TextFunctions.langId($"text") === lang).as("composed"))
        .collect()
      both.foreach { r =>
        assert(r.isNullAt(1) == r.isNullAt(2) &&
          (r.isNullAt(1) || r.getBoolean(1) == r.getBoolean(2)),
          s"id=${r.getLong(0)} minQ=$minQ lang=$lang: " +
            s"gate=${r.get(1)} composed=${r.get(2)}")
      }
    }
  }

  test("fused quality gate in a FILTER keeps the composed survivor set") {
    val viaGate = rows
      .filter(TextFunctions.qualityGate($"text", 0.6, "en"))
      .select($"id").collect().map(_.getLong(0)).toSet
    val viaComposed = rows
      .filter(TextFunctions.qualityScore($"text") >= 0.6 &&
        TextFunctions.langId($"text") === "en")
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(viaGate == viaComposed)
    // and on real corpus text, per source, at the contract threshold
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val a = docs.filter(TextFunctions.qualityGate(col("text"), 0.6, "en"))
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = docs.filter(TextFunctions.qualityScore(col("text")) >= 0.6 &&
        TextFunctions.langId(col("text")) === "en")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b && a.values.sum > 0)
  }

  test("gate rejects a null minQ at analysis instead of unboxing to 0.0") {
    // via SQL a foldable NULL threshold is reachable; the kernel's
    // `asInstanceOf[Double]` would silently unbox it to 0.0 (gate passes
    // ~everything) while the composed predicate `q >= NULL` drops every
    // row — checkInputDataTypes must fail the plan, not pick a side
    val markers = typedlit(TextFunctions.LangMarkers.map { case (c, w) => (c, w) })
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      rows.select(GraftExpressions.textQualityGate($"text", markers,
        lit(null).cast("double"), lit("en"))).collect()
    }
    assert(err.getMessage.contains("non-null minQ"))
  }

  test("public functions are unchanged through the rewire") {
    val out = rows.filter($"text".isNotNull).select($"id",
      TextFunctions.wsTokenCount($"text").as("n"),
      TextFunctions.langId($"text").as("lang"),
      round(TextFunctions.qualityScore($"text"), 10).as("q"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    val byId = out.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(1L)._2 == "en")
    assert(byId(2L)._2 == "de")
    assert(byId(3L)._2 == "zh")   // CJK ratio override
    assert(byId(7L)._2 == "und")
    assert(byId(4L)._1 == 7)      // every \s char splits
    assert(byId(9L)._1 == 4 && byId(9L)._2 == "en") // case-folded markers
  }
}
