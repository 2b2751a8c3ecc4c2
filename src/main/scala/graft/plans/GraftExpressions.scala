package graft.plans

import org.apache.spark.sql.{AnalysisException, Column, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the operator hot paths where Spark's
  * built-ins can't run fast: `aggregate`/`zip_with` lambdas are
  * CodegenFallback (interpreted, boxing per element), which turns a
  * 64-float dot product into ~100 object allocations. These expressions
  * are single-pass primitive loops; `VectorDot` additionally generates
  * Java code so it fuses into whole-stage codegen (the 2M-pair
  * similarity join stays in one codegen stage).
  *
  * Every expression here that a front end builds is one row of
  * [[GraftExpressions.functions]]: its `graft_*` SQL name, its class and
  * its builder. [[GraftExpressions.register]] and the [[GraftExtensions]]
  * SparkSessionExtensions class install that table for SQL; the
  * [[GraftExpressions]] Column helpers build the same nodes directly.
  */
case class VectorDot(left: Expression, right: Expression)
  extends BinaryExpression {

  private def okType(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (okType(left) && okType(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float|double> args, got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // dimension mismatch fails LOUDLY: silently truncating to the
  // shorter array (schema drift mixing 384- and 768-dim embeddings)
  // would produce a deflated not-even-truncated-space cosine — norms
  // stay full-length — and rank wrong neighbors with no error anywhere
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) throw new IllegalArgumentException(
      s"graft_dot: dimension mismatch ($n vs ${y.numElements()}) — " +
        "mixed embedding widths in the corpus?")
    var s = 0.0; var i = 0
    val lf = isFloat(left); val rf = isFloat(right)
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (isFloat(left)) "getFloat" else "getDouble"
    val rGet = if (isFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val s = ctx.freshName("s")
      s"""
         |int $n = $x.numElements();
         |if ($y.numElements() != $n) {
         |  throw new IllegalArgumentException("graft_dot: dimension mismatch (" +
         |    $n + " vs " + $y.numElements() + ") — mixed embedding widths in the corpus?");
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $x.$lGet($i)) * ((double) $y.$rGet($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorDot =
    copy(left = l, right = r)
}

/** MinHash signature: k min-hashes over a string array in ONE pass.
  * Per element two xxh64 hashes h1,h2 and hash_j = h1 + j*h2 for each
  * of the k slots, so cost is O(elements·k) additions after
  * O(elements) xxh64 calls. The family is unmixed double hashing: the
  * j-th minima are correlated across j, which min-wise hashing (unlike
  * a Bloom filter) does not tolerate — ROADMAP direction 9 finalizes
  * each hash with a 64-bit mixer. The oracle hashes pin the current
  * values, so the hash stays as it is until then.
  * Output: array<long> of length k. */
case class MinHashSig(child: Expression, k: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_minhash expects array<string>, got $t")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  // round-17 codegen port (same reference-object pattern as
  // NearestCentroid): the kernel loop was already primitive, but the
  // CodegenFallback wrapper materialized the incoming row and paid an
  // interpreted eval dispatch per row inside otherwise-generated spans
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftMinhash", this, classOf[MinHashSig].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        ${ev.isNull} ? null : $ref.compute(${c.value});
      """)
  }

  def compute(arr: ArrayData): ArrayData =
    nullSafeEval(arr).asInstanceOf[ArrayData]

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h1 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 0L)
      val h2 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 1L)
      var j = 0
      var hj = h1
      while (j < k) {
        if (hj < mins(j)) mins(j) = hj
        hj += h2
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** 64-bit SimHash over a string array in one pass: per-token xxh64,
  * ±1 vote per bit, sign of votes → bit. */
case class SimHash64(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_simhash expects array<string>, got $t")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  // round-17 codegen port — see MinHashSig
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftSimhash", this, classOf[SimHash64].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      long ${ev.value} = ${ev.isNull} ? 0L : $ref.compute(${c.value});
      """)
  }

  def compute(arr: ArrayData): Long =
    nullSafeEval(arr).asInstanceOf[Long]

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 0L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L; var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** Random-hyperplane LSH sign bits for a float/double vector, computed
  * in one compiled pass: bit h = [Σ_j v[j]·u(h,j) ≥ 0] where u(h,j) is
  * a fixed hash-derived pseudo-random value in [-1,1] (XXH64 of the
  * component index seeded by the hyperplane index — deterministic, no
  * stored model, identical on every executor). Replaces an
  * `aggregate(zip_with(...))` composition whose per-element interpreted
  * lambdas dominated the ANN pipelines. */
case class LshSignBits(child: Expression, nbits: Int, offset: Int = 0)
  extends UnaryExpression {

  // round-17 codegen port — see MinHashSig
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftLshBits", this, classOf[LshSignBits].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      long ${ev.value} = ${ev.isNull} ? 0L : $ref.compute(${c.value});
      """)
  }

  def compute(arr: ArrayData): Long =
    nullSafeEval(arr).asInstanceOf[Long]

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_lsh_bits expects array<float|double>, got $t")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_bits"

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    var sig = 0L
    var h = 0
    while (h < nbits) {
      var proj = 0.0
      var j = 0
      while (j < n) {
        val x = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
        proj += x * (XXH64.hashLong(j.toLong, (offset + h).toLong).toDouble / Long.MaxValue.toDouble)
        j += 1
      }
      if (proj >= 0) sig |= (1L << h)
      h += 1
    }
    sig
  }

  override protected def withNewChildInternal(c: Expression): LshSignBits = copy(child = c)
}

/** 64-bit SimHash whose per-token bits come from the token's MD5 digest
  * (bit b = bit b%8 of digest byte b/8, LSB-first) instead of xxh64.
  * Same signature quality; the point of the MD5 variant is *engine
  * portability*: MD5 is available bit-identically in every SQL engine,
  * so the whole near-dup computation has an exact DuckDB/Trino twin —
  * xxh64 exists only inside Spark. Used by the oracle-checked
  * `x_dedup_simhash` pipeline; the xxh64 variant stays as the
  * (marginally faster) non-portable path. */
case class Md5SimHash64(child: Expression)
  extends UnaryExpression {

  // round-17 codegen port — see MinHashSig
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftSimhashMd5", this, classOf[Md5SimHash64].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      long ${ev.value} = ${ev.isNull} ? 0L : $ref.compute(${c.value});
      """)
  }

  def compute(arr: ArrayData): Long =
    nullSafeEval(arr).asInstanceOf[Long]

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_simhash_md5 expects array<string>, got $t")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_md5"

  @transient private lazy val mdLocal =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val md = mdLocal.get()
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(arr.getUTF8String(i).getBytes)
      var b = 0
      while (b < 64) {
        if (((d(b >> 3) >> (b & 7)) & 1) == 1) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L; var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def withNewChildInternal(c: Expression): Md5SimHash64 = copy(child = c)
}

/** Order-sensitive rolling polynomial hash over a token array:
  * h = h·31 + xxh64(token), with JVM wraparound. Must be a compiled
  * expression: the `aggregate(...)` column formulation throws
  * ARITHMETIC_OVERFLOW under ANSI mode (Spark 4 default), but
  * wraparound is exactly what a polynomial hash wants. */
case class RollingHash64(child: Expression)
  extends UnaryExpression {

  // round-17 codegen port — see MinHashSig
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftRollingHash", this, classOf[RollingHash64].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      long ${ev.value} = ${ev.isNull} ? 0L : $ref.compute(${c.value});
      """)
  }

  def compute(arr: ArrayData): Long =
    nullSafeEval(arr).asInstanceOf[Long]

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_rolling_hash expects array<string>, got $t")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_hash"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var h = 0L; var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      h = h * 31L + XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 0L)
      i += 1
    }
    h
  }

  override protected def withNewChildInternal(c: Expression): RollingHash64 = copy(child = c)
}

/** Trained-BPE token count over a token array: Σ per-word subword
  * counts under a FOLDABLE merge table (array<struct<a,b>> literal —
  * normally [[graft.functions.Bpe.pinnedMerges]]). Encoding applies
  * merges in learned order, one left-to-right non-overlapping pass
  * each ([[graft.functions.Bpe.tokenCount]]) — exactly the `replace()`
  * pass the DuckDB oracle replays, so counts are engine-identical.
  * Word → count is memoized per executor (Zipf vocab: the memo turns
  * 64 merge passes per word into one hash probe for every repeat),
  * bounded and cleared at 2^17 entries. Generated code follows the
  * [[NearestCentroid]] reference-object pattern: one call into the
  * kernel per row, no interpreted re-walk, stays in whole-stage
  * codegen. */
case class BpeTokenCount(tokens: Expression, mergesExpr: Expression)
  extends BinaryExpression {

  override def left: Expression = tokens
  override def right: Expression = mergesExpr
  override def prettyName: String = "graft_bpe_count"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (!mergesExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_bpe_count expects a FOLDABLE merge table (a literal)")
    else (tokens.dataType, mergesExpr.dataType) match {
      case (ArrayType(StringType, _),
            ArrayType(StructType(Array(a, b)), _))
          if a.dataType == StringType && b.dataType == StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (t, m) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_count expects (array<string>, array<struct<string,string>>), got ($t, $m)")
    }

  @transient private lazy val kernel: BpeCountKernel = {
    val arr = mergesExpr.eval(null).asInstanceOf[ArrayData]
    val ms = new Array[(String, String)](arr.numElements())
    var i = 0
    while (i < ms.length) {
      val row = arr.getStruct(i, 2)
      ms(i) = (row.getUTF8String(0).toString, row.getUTF8String(1).toString)
      i += 1
    }
    new BpeCountKernel(ms)
  }

  override def nullSafeEval(toks: Any, m: Any): Any =
    kernel.count(toks.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kRef = ctx.addReferenceObj("graftBpeKernel", kernel,
      classOf[BpeCountKernel].getName)
    val t = tokens.genCode(ctx)
    ev.copy(code = code"""
      ${t.code}
      boolean ${ev.isNull} = ${t.isNull};
      int ${ev.value} = ${ev.isNull} ? -1 : $kRef.count(${t.value});
      """)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BpeTokenCount =
    copy(tokens = l, mergesExpr = r)
}

/** Executor-side state of [[BpeTokenCount]]: the merge table plus a
  * bounded word→count memo. Public top-level class only because
  * generated code references it by name; not user API. */
final class BpeCountKernel(merges: Array[(String, String)]) extends Serializable {
  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def countWord(w: String): Int = {
    val hit = memo.get(w)
    if (hit != null) hit.intValue()
    else {
      val n = graft.functions.Bpe.tokenCount(w, merges)
      if (memo.size() > (1 << 17)) memo.clear() // bounded; pure fn, safe to drop
      memo.put(w, Integer.valueOf(n))
      n
    }
  }

  def count(arr: ArrayData): Int = {
    var total = 0
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) total += countWord(arr.getUTF8String(i).toString)
      i += 1
    }
    total
  }
}

/** One-pass text profiling for the quality/language stack: word count,
  * summed code-point word length, punctuation count, CJK count, total
  * stopword hits, and per-language marker-word counts — everything
  * [[graft.functions.TextFunctions.qualityScore]]/`langId`/
  * `wsTokenCount` need, in ONE scan of the string. Replaces a stack of
  * interpreted higher-order built-ins (`filter(split(lower(text)))`
  * per call site, `regexp_extract_all` twice, an `aggregate` lambda,
  * and 26-way OR-chains inside `filter` lambdas) that round-17 bench
  * attribution measured as the single most expensive per-document
  * surface in the contract (x_text_stats ~48 s at sf10 — marker/regex
  * bound, not tokenizer bound).
  *
  * Semantics are EXACTLY the declarative composition's (the oracle
  * twins replay it in SQL, so this must be bit-identical):
  * words = lowercase, split on Java `\s`, drop empties; word length in
  * code points; punct = occurrences of [.,;:!?] in the RAW text; cjk =
  * code points in [0x4e00, 0x9fff] of the raw text; marker counts =
  * exact-equality hits per language set (lowercased words); stop = hits
  * against the union of all sets. Marker tables arrive as a foldable
  * literal `array<struct<code string, words array<string>>>`. Output:
  * `struct<n_words int, sum_word_len bigint, punct int, cjk int,
  * stop int, marker array<int>>` (marker in literal order). */
case class TextMarkerStats(text: Expression, markersExpr: Expression)
  extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = markersExpr
  override def prettyName: String = "graft_text_marker_stats"
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("sum_word_len", LongType, nullable = false),
    StructField("punct", IntegerType, nullable = false),
    StructField("cjk", IntegerType, nullable = false),
    StructField("stop", IntegerType, nullable = false),
    StructField("marker", ArrayType(IntegerType, containsNull = false), nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (!markersExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_text_marker_stats expects a FOLDABLE marker table (a literal)")
    else (text.dataType, markersExpr.dataType) match {
      case (StringType, ArrayType(StructType(Array(c, w)), _))
          if c.dataType == StringType &&
            w.dataType.isInstanceOf[ArrayType] &&
            w.dataType.asInstanceOf[ArrayType].elementType == StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (t, m) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_text_marker_stats expects (string, array<struct<string, array<string>>>), got ($t, $m)")
    }

  @transient private lazy val kernel: TextMarkerStatsKernel =
    new TextMarkerStatsKernel(TextMarkerStats.parseMarkers(markersExpr)._2)

  override def nullSafeEval(t: Any, m: Any): Any =
    kernel.profile(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kRef = ctx.addReferenceObj("graftTextStats", kernel,
      classOf[TextMarkerStatsKernel].getName)
    val t = text.genCode(ctx)
    ev.copy(code = code"""
      ${t.code}
      boolean ${ev.isNull} = ${t.isNull};
      InternalRow ${ev.value} = ${ev.isNull} ? null : $kRef.profile(${t.value});
      """)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): TextMarkerStats =
    copy(text = l, markersExpr = r)
}

object TextMarkerStats {
  /** Parse the foldable marker-table literal into (codes, word-sets) —
    * the ONE place the literal's layout is interpreted, shared by
    * [[TextMarkerStats]] and [[TextQualityGate]] so the fused gate can
    * never desync from the stats kernel on a layout change. */
  private[plans] def parseMarkers(
      markersExpr: Expression): (Array[String], Array[java.util.HashSet[String]]) = {
    val arr = markersExpr.eval(null).asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sets = new Array[java.util.HashSet[String]](n)
    val codes = new Array[String](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 2)
      codes(i) = row.getUTF8String(0).toString
      val ws = row.getArray(1)
      val s = new java.util.HashSet[String]()
      var j = 0
      while (j < ws.numElements()) { s.add(ws.getUTF8String(j).toString); j += 1 }
      sets(i) = s
      i += 1
    }
    (codes, sets)
  }
}

/** Executor-side loop of [[TextMarkerStats]]. Public top-level class
  * only because generated code references it by name; not user API. */
final class TextMarkerStatsKernel(
    sets: Array[java.util.HashSet[String]]) extends Serializable {

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def profile(t: UTF8String): InternalRow = {
    // raw-text pass: punct + cjk (case folding can change string length
    // in pathological Unicode, so these counts must NOT come from the
    // lowered copy the tokenizer uses)
    val raw = t.toString
    var punct = 0; var cjk = 0
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '.' || c == ',' || c == ';' || c == ':' || c == '!' || c == '?') punct += 1
      else if (c >= 0x4e00 && c <= 0x9fff) cjk += 1
      i += 1
    }
    // lowered pass: words, code-point lengths, marker hits — the same
    // tokenizer contract as WordShingles (Java \s class, lower() first)
    val low = t.toLowerCase.toString
    var nWords = 0
    var sumLen = 0L
    var stop = 0
    val markers = new Array[Int](sets.length)
    i = 0
    val n = low.length
    while (i < n) {
      while (i < n && isWs(low.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(low.charAt(i))) i += 1
      if (i > start) {
        nWords += 1
        sumLen += low.codePointCount(start, i)
        val w = low.substring(start, i)
        var hit = false
        var s = 0
        while (s < sets.length) {
          if (sets(s).contains(w)) { markers(s) += 1; hit = true }
          s += 1
        }
        if (hit) stop += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, sumLen, punct, cjk, stop,
        new GenericArrayData(markers.map(m => m: Any))))
  }
}

/** Fused quality/language GATE: `qualityScore(text) >= minQ [AND
  * langId(text) = wantLang]` as ONE boolean expression making ONE
  * kernel call. Exists because FilterExec does NO subexpression
  * elimination: after PushPredicateThroughNonJoin inlines the q/lang
  * aliases into a filter condition, every struct-field access of the
  * composed predicate carries its own [[TextMarkerStats]] subtree —
  * the shipping x_quality_filter predicate generated SIXTEEN
  * `.profile(` call sites (SCALE_CURVE.md, "Round-18: x_quality_filter's
  * post-fusion residual"), where the same
  * expressions in a Project or HashAggregate collapse to one under
  * CSE. A filter is exactly where the gate runs in every ingest
  * pipeline, so the one-call form is a dedicated expression.
  *
  * Semantics are EXACTLY the declarative composition's
  * ([[graft.functions.TextFunctions.qualityScore]] `>= minQ` AND
  * [[graft.functions.TextFunctions.langId]] `=== wantLang`) — the
  * stats come from the SAME [[TextMarkerStatsKernel]], and the
  * score/argmax arithmetic replays the composed expression tree's
  * double ops in order (spec-pinned equal on hostile rows and the
  * fixture corpus by TextMarkerStatsSpec; the DuckDB oracle twins
  * replay the composition independently). `wantLang` null ⇒ quality
  * check only.
  *
  * Null text is NOT null-propagated, because the composition never
  * is: every quality component and the langId argmax is CASE-wrapped
  * with a non-null ELSE, so `qualityScore(null)` evaluates to
  * `((0.1 + 0.0) - 0.0) + 0.2` and `langId(null)` to `"und"` — a
  * null document PASSES a quality-only gate with minQ ≤ ~0.3. The
  * gate precomputes that constant through the same double ops
  * (0.1 + 0.2 is 0.30000000000000004, so the boundary matters). */
case class TextQualityGate(text: Expression, markersExpr: Expression,
    minQExpr: Expression, wantLangExpr: Expression) extends Expression {

  override def children: Seq[Expression] =
    Seq(text, markersExpr, minQExpr, wantLangExpr)
  override def dataType: DataType = BooleanType
  // the composed predicate is never null (see class doc)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_text_quality_gate"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (!markersExpr.foldable || !minQExpr.foldable || !wantLangExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_text_quality_gate expects FOLDABLE markers/minQ/lang")
    else if (minQExpr.eval(null) == null)
      // a null threshold would silently unbox to 0.0 in the kernel and
      // pass nearly every row, while the composed predicate
      // `qualityScore(t) >= NULL` filters everything — reject it here
      // (reachable only via SQL: graft_text_quality_gate(t, m, NULL, l))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_text_quality_gate requires a non-null minQ threshold")
    else (text.dataType, minQExpr.dataType, wantLangExpr.dataType) match {
      case (StringType, DoubleType, StringType | NullType) =>
        TextMarkerStats(text, markersExpr).checkInputDataTypes()
      case (t, q, l) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_text_quality_gate expects (string, markers, double, string), got ($t, _, $q, $l)")
    }

  @transient private lazy val kernel: TextQualityGateKernel = {
    val (codes, sets) = TextMarkerStats.parseMarkers(markersExpr)
    new TextQualityGateKernel(new TextMarkerStatsKernel(sets), codes,
      minQExpr.eval(null).asInstanceOf[Double],
      Option(wantLangExpr.eval(null)).map(_.toString).orNull)
  }

  override def eval(input: InternalRow): Any = {
    val t = text.eval(input)
    if (t == null) kernel.gateNull else kernel.gate(t.asInstanceOf[UTF8String])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kRef = ctx.addReferenceObj("graftQualityGate", kernel,
      classOf[TextQualityGateKernel].getName)
    val t = text.genCode(ctx)
    ev.copy(code = code"""
      ${t.code}
      boolean ${ev.value} =
        ${t.isNull} ? $kRef.gateNull() : $kRef.gate(${t.value});
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): TextQualityGate =
    copy(text = cs(0), markersExpr = cs(1), minQExpr = cs(2), wantLangExpr = cs(3))
}

/** Executor-side loop of [[TextQualityGate]] — one
  * [[TextMarkerStatsKernel.profile]] call, then the composed score and
  * argmax arithmetic in the declarative tree's exact double-op order. */
final class TextQualityGateKernel(statsKernel: TextMarkerStatsKernel,
    codes: Array[String], minQ: Double, wantLang: String) extends Serializable {

  // langId folds over languages SORTED BY CODE with marker indices
  // from the original table order
  private val sortedIdx: Array[Int] =
    codes.indices.sortBy(codes(_)).toArray

  /** The gate's value for NULL text — the composition's CASE ELSE
    * branches make it a constant: q = ((0.1 + 0.0) - 0.0) + 0.2
    * (exact double ops), lang = "und". */
  val gateNullValue: Boolean = {
    val q = ((0.1 + 0.0) - 0.0) + 0.2
    (q >= minQ) && (wantLang == null || wantLang == "und")
  }
  def gateNull(): Boolean = gateNullValue

  def gate(t: UTF8String): Boolean = {
    val r = statsKernel.profile(t)
    val nWords = r.getInt(0)
    val punct = r.getInt(2)
    val cjk = r.getInt(3)
    val stop = r.getInt(4)
    val nChars = t.numChars() // Spark length() on strings
    // quality = ((lenScore + least(stopRatio*2, .3)) - least(punctRatio*5, .2)) + .2
    val lenScore = if (nWords >= 20 && nWords <= 1000) 0.5 else 0.1
    val stopScore = math.min(
      if (nWords > 0) (stop.toDouble / nWords.toDouble) * 2.0 else 0.0, 0.3)
    val punctPen = math.min(
      if (nChars > 0) (punct.toDouble / nChars.toDouble) * 5.0 else 0.0, 0.2)
    val q = ((lenScore + stopScore) - punctPen) + 0.2
    if (!(q >= minQ)) return false
    if (wantLang == null) return true
    val lang =
      if (cjk * 2 > nChars) "zh"
      else {
        val markers = r.getArray(5)
        var bestCode = "und"
        var bestScore = 0
        var k = 0
        while (k < sortedIdx.length) {
          val idx = sortedIdx(k)
          val s = markers.getInt(idx)
          if (s > bestScore) { bestCode = codes(idx); bestScore = s }
          k += 1
        }
        bestCode
      }
    lang == wantLang
  }
}

/** One-pass word-n-gram shingler: lowercase, split on `\s+`, join each
  * sliding window of `n` words with single spaces; documents shorter
  * than `n` words yield one whole-document shingle; `distinct` keeps
  * first occurrences (array_distinct semantics). Replaces the
  * `transform(sequence, concat_ws(slice))` composition, whose
  * interpreted per-element evaluation dominated the dedup pipelines.
  */
case class WordShingles(child: Expression, n: Int, distinct: Boolean)
  extends UnaryExpression {

  // round-17 codegen port — see MinHashSig
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftShingles", this, classOf[WordShingles].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        ${ev.isNull} ? null : $ref.compute(${c.value});
      """)
  }

  def compute(s: UTF8String): ArrayData =
    nullSafeEval(s).asInstanceOf[ArrayData]

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_shingles expects string, got $t")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  // Java-regex \s class, to stay byte-identical with split(lower(x),'\s+')
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toLowerCase.toString
    val words = new scala.collection.mutable.ArrayBuffer[String](64)
    var i = 0; val len = text.length
    while (i < len) {
      while (i < len && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(text.charAt(i))) i += 1
      if (i > start) words += text.substring(start, i)
    }
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String](words.length)
    val seen = if (distinct) new java.util.HashSet[String]() else null
    def emit(s: String): Unit =
      if (!distinct || seen.add(s)) out += UTF8String.fromString(s)
    if (words.isEmpty) {
      // no tokens → no shingles (empty docs contribute nothing to dedup)
    } else if (words.length < n) {
      emit(words.mkString(" "))
    } else {
      val sb = new java.lang.StringBuilder(64)
      var w = 0
      while (w + n <= words.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) { if (j > 0) sb.append(' '); sb.append(words(w + j)); j += 1 }
        emit(sb.toString)
        w += 1
      }
    }
    // distinct sets come out sorted so set-intersections downstream can
    // run as allocation-free merges (SortedIntersectCount)
    val arr = out.toArray
    if (distinct) java.util.Arrays.sort(arr,
      (a: UTF8String, b: UTF8String) => a.compareTo(b))
    new GenericArrayData(arr.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
}

/** Sorted DISTINCT 64-bit shingle hashes — the shuffle-slim twin of
  * [[WordShingles]](distinct = true). Same tokenizer, same shingle
  * strings, but each shingle leaves the expression as `xxhash64` of the
  * shingle text (seed 42, byte-identical to Spark's built-in), so every
  * downstream stage of a set-similarity join — df count, prefix window,
  * candidate equi-join, verify merge — shuffles 8-byte longs instead of
  * n-word strings (~3 words ≈ 20-30 bytes each, plus per-string compare
  * cost in every sort). Set semantics survive modulo 64-bit collisions:
  * P(any collision among m distinct shingles) ≈ m²/2⁶⁵, i.e. ~5·10⁻⁹ at
  * a BILLION distinct shingles — far below any empirical dedup noise
  * floor, which is why hashed tokens are the standard representation in
  * the ssjoin literature and the large-scale dedup pipelines this
  * mirrors. */
case class WordShingleHashes(child: Expression, n: Int)
  extends UnaryExpression {

  // round-17 codegen port — see MinHashSig
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftShingleHashes", this,
      classOf[WordShingleHashes].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        ${ev.isNull} ? null : $ref.compute(${c.value});
      """)
  }

  def compute(s: UTF8String): ArrayData =
    nullSafeEval(s).asInstanceOf[ArrayData]

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_shingle_hashes expects string, got $t")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  // delegate shingling to the reference implementation (distinct =
  // true), then hash; the two expressions can never drift apart
  @transient private lazy val shingler = WordShingles(child, n, distinct = true)

  override def nullSafeEval(input: Any): Any = {
    val shingled = shingler.nullSafeEval(input).asInstanceOf[ArrayData]
    val m = shingled.numElements()
    val hashes = new Array[Long](m)
    var i = 0
    while (i < m) {
      hashes(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(shingled.getUTF8String(i), 42L)
      i += 1
    }
    java.util.Arrays.sort(hashes)
    // input was distinct as strings; a (cosmically unlikely) hash
    // collision would leave adjacent duplicates — drop them so array
    // size still equals set cardinality
    var w = 0; i = 0
    while (i < m) {
      if (w == 0 || hashes(i) != hashes(w - 1)) { hashes(w) = hashes(i); w += 1 }
      i += 1
    }
    val out = new Array[Any](w)
    i = 0
    while (i < w) { out(i) = hashes(i); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): WordShingleHashes = copy(child = c)
}

/** All ordered pairs (a, b), a < b, from an array of longs, in ONE
  * pass: sorts a primitive copy, emits n·(n−1)/2 pair structs directly.
  * Replaces the `transform(arr, (a,i) => transform(slice(arr, i+2, n),
  * ...))` composition, whose interpreted lambdas clone a slice of the
  * array per element — O(n²) allocations per bucket that dominated the
  * inverted-index dedup under concurrent executors. */
case class OrderedPairs(child: Expression)
  extends UnaryExpression {

  // round-17 codegen port — see MinHashSig
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftOrderedPairs", this, classOf[OrderedPairs].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        ${ev.isNull} ? null : $ref.compute(${c.value});
      """)
  }

  def compute(arr: ArrayData): ArrayData =
    nullSafeEval(arr).asInstanceOf[ArrayData]

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_ordered_pairs expects array<bigint>, got $t")
    }
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_ordered_pairs"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // n·(n−1)/2 wraps Int at n ≈ 46k — fail with guidance instead of a
    // NegativeArraySizeException. (Slow-but-correct large buckets below
    // the wrap bound are the caller's choice; see maxShingleDf.)
    require(n < 46341,
      s"graft_ordered_pairs: bucket of $n ids would overflow pair enumeration; " +
        "cap bucket size upstream (e.g. Dedup.ngramJaccardPairs(maxShingleDf=...))")
    val ids = new Array[Long](n)
    var i = 0
    while (i < n) { ids(i) = arr.getLong(i); i += 1 }
    java.util.Arrays.sort(ids)
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0; i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = InternalRow(ids(i), ids(j))
        k += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): OrderedPairs = copy(child = c)
}

/** |A ∩ B| for two SORTED string arrays via a single merge pass — no
  * per-call hash set, no allocations (vs ArrayIntersect, which builds a
  * hash set per row and dominated near-dup verification at 1M+ pairs). */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  // round-17 codegen port — see MinHashSig
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftIntersect", this,
      classOf[SortedIntersectCount].getName)
    val l = left.genCode(ctx); val r = right.genCode(ctx)
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      boolean ${ev.isNull} = ${l.isNull} || ${r.isNull};
      int ${ev.value} = ${ev.isNull} ? -1 : $ref.compute(${l.value}, ${r.value});
      """)
  }

  def compute(a: ArrayData, b: ArrayData): Int =
    nullSafeEval(a, b).asInstanceOf[Int]

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_intersect_count expects two array<string> or two array<bigint>, got $l, $r")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_intersect_count"

  @transient private lazy val longElems =
    left.dataType.asInstanceOf[ArrayType].elementType == LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0
    if (longElems) {
      while (i < nx && j < ny) {
        val l = x.getLong(i); val r = y.getLong(j)
        if (l == r) { c += 1; i += 1; j += 1 }
        else if (l < r) i += 1
        else j += 1
      }
    } else {
      while (i < nx && j < ny) {
        val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    }
    c
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
}

/** Long math for [[SumProd128]]'s codegen'd 128-bit accumulation —
  * static-forwarder methods invoked via `StaticInvoke` so the wrapping
  * two's-complement adds/multiplies stay legal under ANSI mode (plain
  * `Add`/`Multiply` would throw on the intentional lo-word wrap). */
object Int128Math {
  def mulLo(x: Long, y: Long): Long = x * y
  def addLo(lo: Long, p: Long): Long = lo + p
  /** New hi word after adding x·y: signed hi product plus the unsigned
    * carry out of the lo addition (standard bit trick). */
  def addHi(hi: Long, lo: Long, x: Long, y: Long): Long = {
    val p = x * y
    val nl = lo + p
    hi + java.lang.Math.multiplyHigh(x, y) + (((lo & p) | ((lo | p) & ~nl)) >>> 63)
  }
  def mergeHi(hiL: Long, loL: Long, hiR: Long, loR: Long): Long = {
    val nl = loL + loR
    hiL + hiR + (((loL & loR) | ((loL | loR) & ~nl)) >>> 63)
  }
  /** (hi, lo) as the exact signed 128-bit integer, in decimal(38,0). */
  def dec128(hi: Long, lo: Long): Decimal = {
    val bi = java.math.BigInteger.valueOf(hi).shiftLeft(64)
      .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo)))
    Decimal(BigDecimal(new java.math.BigDecimal(bi)), 38, 0)
  }
  /** (hi, lo) as the exact signed 128-bit UNSCALED value of a
    * decimal(38, scale) — [[SumDec128]]'s eval. */
  def dec128Scaled(hi: Long, lo: Long, scale: Int): Decimal = {
    val bi = java.math.BigInteger.valueOf(hi).shiftLeft(64)
      .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo)))
    Decimal(BigDecimal(new java.math.BigDecimal(bi, scale)), 38, scale)
  }
  /** Unscaled long of a Decimal, 0 for NULL (the additive identity —
    * [[SumDec128]] tracks nullness in a separate count slot). LOUD on
    * an unscaled value past 2^63 (`longValueExact` throws): for the
    * price-scale decimals this serves, a single row needing >63 bits
    * (|v| > ~9.2e12 at scale 6) is data corruption, never silently
    * truncated. */
  def unscaledOrZero(d: Decimal): Long =
    if (d == null) 0L
    else if (d.precision <= Decimal.MAX_LONG_DIGITS) d.toUnscaledLong
    else d.toJavaBigDecimal.unscaledValue().longValueExact()
  /** New hi word after adding the sign-extended long x: signed hi
    * extension plus the unsigned carry out of the lo addition. */
  def addHiL(hi: Long, lo: Long, x: Long): Long = {
    val nl = lo + x
    hi + (x >> 63) + (((lo & x) | ((lo | x) & ~nl)) >>> 63)
  }
}

/** Exact Σ x·y over int64 lattice values, accumulated in 128 bits
  * (two long buffer slots) and emitted as decimal(38,0).
  *
  * The point is the PER-ROW COST: `sum(cast(x as decimal(38,0)) *
  * cast(y as decimal(38,0)))` is exact but every row allocates and
  * multiplies java.math.BigDecimals inside the hash aggregate —
  * measured 3.6× the all-double agg on the corr-matrix shape
  * (OPTIMIZATION_r19.md). Here the product is one `Math.multiplyHigh`
  * + one long multiply, the accumulation two adds and a carry, all
  * codegen'd; the single BigInteger materializes once per GROUP at
  * eval. Exactness bound: |Σ x·y| < 2^127 ≈ 1.7e38 — the same
  * headroom class as the decimal(38,0) path it replaces, and inputs
  * larger than ±2^63 were never exact in the double-derived lattices
  * this serves (round(v·10^s) loses integer precision past 2^53
  * anyway). NULL in either factor skips the row (SUM semantics);
  * empty/all-null groups yield 0 (not SUM's NULL) — callers that need
  * the NULL contract must guard on COUNT, documented at the one
  * call site (Profiling.corrMatrix, whose closed form nulls out via
  * its variance>0 guard regardless). */
case class SumProd128(x: Expression, y: Expression)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
  with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke

  override def children: Seq[Expression] = Seq(x, y)
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = DecimalType(38, 0)
  override def prettyName: String = "graft_sumprod128"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo)
  override lazy val initialValues: Seq[Expression] = Seq(Literal(0L), Literal(0L))

  private def call(name: String, args: Seq[Expression], dt: DataType = LongType) =
    StaticInvoke(Int128Math.getClass, dt, name, args,
      inputTypes = Seq.fill(args.size)(LongType), propagateNull = false,
      returnNullable = false)

  override lazy val updateExpressions: Seq[Expression] = {
    // NULL-skip as coalesce-to-zero, NOT If(isnull, keep, add): adding
    // x·0 or 0·y is the identity, and the unconditional form lets the
    // hash aggregate's subexpression elimination share the (expensive,
    // e.g. round()) input expressions across the hi/lo slots and across
    // sibling aggregates — the If-branch form re-evaluated every input
    // per slot and measured 1.5× the decimal path it was replacing.
    val xz = Coalesce(Seq(x, Literal(0L)))
    val yz = Coalesce(Seq(y, Literal(0L)))
    Seq(
      call("addHi", Seq(hi, lo, xz, yz)),
      call("addLo", Seq(lo, call("mulLo", Seq(xz, yz)))))
  }
  override lazy val mergeExpressions: Seq[Expression] = Seq(
    call("mergeHi", Seq(hi.left, lo.left, hi.right, lo.right)),
    call("addLo", Seq(lo.left, lo.right)))
  override lazy val evaluateExpression: Expression =
    call("dec128", Seq(hi, lo), DecimalType(38, 0))

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): SumProd128 =
    copy(x = cs(0), y = cs(1))
}

/** Exact SUM over a DecimalType column, accumulated as the 128-bit
  * integer sum of UNSCALED values (two long buffer slots + a non-null
  * count) and emitted as decimal(38, scale).
  *
  * The point is the PER-ROW COST of the TPC-H oracle-parity aggregates
  * (`SUM(CAST(x AS DECIMAL(22,6)))`): the HALF_UP cast is the shared
  * cross-engine contract and stays, but Spark's builtin Sum buffers a
  * DecimalType(p+10) — stored as java.math.BigDecimal once p > 18 — so
  * every row pays a BigDecimal add plus a CheckOverflow precision walk.
  * Measured on the q1 shape (sf0.1 warm; VERDICT.md, "The optimization
  * — `SumDec128`"): as-is 1.69 s,
  * cast-kept-sums-in-double 0.90 s, all-double 0.28 s — the BigDecimal
  * SUM is half the key. Here the cast's unscaled value rides two
  * codegen'd long adds with carry; the one BigInteger materializes per
  * GROUP at eval. HashAggregate-eligible (all-long buffer) where the
  * builtin's wide-decimal buffer already was, so plan shape is
  * unchanged — only per-row cost drops.
  *
  * Equivalence contract (pinned bit-exact by ExpressionsSpec):
  * the unscaled integer sum in 128 bits is EXACT, as is the builtin's
  * decimal sum, so the emitted decimal (and any downstream double
  * cast) is identical; empty/all-NULL groups yield NULL (SUM
  * semantics) via the count slot. Exactness bound |Σ| < 2^127 ≈
  * 1.7e38 unscaled — beyond the builtin's own (p+10)-digit overflow
  * horizon for every declared query. A single input past 2^63
  * unscaled throws loudly (never silently truncates) — see
  * [[Int128Math.unscaledOrZero]]. */
case class SumDec128(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate {
  import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke

  private def scale: Int = child.dataType match {
    case d: DecimalType => d.scale
    case _ => 0
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: DecimalType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_sumdec128 requires a DecimalType input, got ${other.catalogString}")
    }
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = DecimalType(38, scale)
  override def prettyName: String = "graft_sumdec128"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val cnt = AttributeReference("cnt", LongType, nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, cnt)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L))

  private def call(name: String, args: Seq[Expression], dt: DataType = LongType,
      argTypes: Seq[DataType] = Nil) =
    StaticInvoke(Int128Math.getClass, dt, name, args,
      inputTypes = if (argTypes.nonEmpty) argTypes else Seq.fill(args.size)(LongType),
      propagateNull = false, returnNullable = false)

  override lazy val updateExpressions: Seq[Expression] = {
    // one extraction per row: the same `unscaledOrZero(child)` subtree
    // feeds both the hi and lo slots, so the aggregate codegen's
    // subexpression elimination evaluates it once (the SumProd128
    // lesson); NULL contributes the additive identity 0 and is tracked
    // by the count slot instead of a branch.
    val x = call("unscaledOrZero", Seq(child),
      argTypes = Seq(child.dataType))
    Seq(
      call("addHiL", Seq(hi, lo, x)),
      call("addLo", Seq(lo, x)),
      Add(cnt, If(IsNull(child), Literal(0L), Literal(1L))))
  }
  override lazy val mergeExpressions: Seq[Expression] = Seq(
    call("mergeHi", Seq(hi.left, lo.left, hi.right, lo.right)),
    call("addLo", Seq(lo.left, lo.right)),
    Add(cnt.left, cnt.right))
  override lazy val evaluateExpression: Expression =
    If(EqualTo(cnt, Literal(0L)),
      Literal(null, DecimalType(38, scale)),
      call("dec128Scaled", Seq(hi, lo, Literal(scale)), DecimalType(38, scale),
        argTypes = Seq(LongType, LongType, IntegerType)))

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): SumDec128 =
    copy(child = cs(0))
}

/** Exact bounded-heap top-k aggregate: keeps the best `k`
  * (sim desc, id asc) pairs per group in a k-sized heap.
  *
  * The point is the PLAN SHAPE: as a TypedImperativeAggregate it gets
  * map-side partial aggregation, so a probe×corpus scoring join shuffles
  * k rows per probe per partition instead of sorting EVERY scored pair
  * through a window exchange — the difference between O(k·probes·
  * partitions) and O(corpus·probes) shuffle volume at 100 TB. Results
  * are exact and deterministically tie-broken, interchangeable with the
  * row_number window formulation (the ANN oracle queries prove it). */
case class TopKPairs(
    sim: Expression, id: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[java.util.PriorityQueue[(Double, Long)]]
  with ImplicitCastInputTypes {

  require(k > 0, s"graft_topk requires k > 0, got $k")

  override def children: Seq[Expression] = Seq(sim, id)
  // analyzer inserts casts (float→double, int→long) instead of letting
  // update() throw ClassCastException mid-job on mistyped SQL inputs
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("sim", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_topk"

  // head = WORST kept pair (lowest sim, then highest id) → O(log k)
  // evict. transient lazy: one instance per deserialized expression,
  // not one per offered row, without riding expression serialization.
  @transient private lazy val cmp = new java.util.Comparator[(Double, Long)] {
    override def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(b._2, a._2)
    }
  }

  override def createAggregationBuffer(): java.util.PriorityQueue[(Double, Long)] =
    new java.util.PriorityQueue[(Double, Long)](k + 1, cmp)

  private def offer(q: java.util.PriorityQueue[(Double, Long)], p: (Double, Long)): Unit = {
    if (q.size < k) q.offer(p)
    else if (cmp.compare(p, q.peek()) > 0) { q.poll(); q.offer(p) }
  }

  override def update(q: java.util.PriorityQueue[(Double, Long)], row: InternalRow): java.util.PriorityQueue[(Double, Long)] = {
    val s = sim.eval(row); val i = id.eval(row)
    if (s != null && i != null)
      offer(q, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
    q
  }

  override def merge(q: java.util.PriorityQueue[(Double, Long)], other: java.util.PriorityQueue[(Double, Long)]): java.util.PriorityQueue[(Double, Long)] = {
    val it = other.iterator()
    while (it.hasNext) offer(q, it.next())
    q
  }

  override def eval(q: java.util.PriorityQueue[(Double, Long)]): Any = {
    // drain a COPY (the Collection ctor keeps q's comparator): window
    // aggregation calls eval repeatedly against the same growing buffer,
    // so draining q itself would truncate every later frame
    val c = new java.util.PriorityQueue[(Double, Long)](q)
    val arr = new Array[(Double, Long)](c.size)
    var i = arr.length - 1
    while (i >= 0) { arr(i) = c.poll(); i -= 1 }  // drain worst-first → arr best-first
    new GenericArrayData(arr.map(p => InternalRow(p._2, p._1): Any))
  }

  override def serialize(q: java.util.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + q.size * 16)
    bb.putInt(q.size)
    val it = q.iterator()
    while (it.hasNext) { val p = it.next(); bb.putDouble(p._1); bb.putLong(p._2) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[(Double, Long)] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val q = createAggregationBuffer()
    var i = 0
    while (i < n) { q.offer((bb.getDouble, bb.getLong)); i += 1 }
    q
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKPairs = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKPairs = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): TopKPairs =
    copy(sim = cs(0), id = cs(1))
}

/** Exact bounded-heap top-k over PAIR keys: like [[TopKPairs]] but the
  * identity is TWO independent 64-bit ids instead of one packed long —
  * the aggregate behind [[graft.operators.Similarity.lshTopPairs]]'s
  * global heap, where real corpora key by 64-bit content hashes that
  * cannot share a single long (the packed `(a<<32)|b` form silently
  * corrupts pair identity past 2³¹). Same plan-shape rationale as
  * TopKPairs (map-side partial aggregation, k rows per partition reach
  * the exchange); tie order is sim DESC, then (id_a, id_b) ASC
  * lexicographically — identical to the packed-pid order on the 31-bit
  * domain (the pid was monotone in both components), so results are
  * bit-stable across the migration, and well-defined on the full
  * 64-bit domain beyond it. */
case class TopPairsAgg(
    sim: Expression, idA: Expression, idB: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[java.util.PriorityQueue[(Double, Long, Long)]]
  with ImplicitCastInputTypes {

  require(k > 0, s"graft_top_pairs requires k > 0, got $k")

  override def children: Seq[Expression] = Seq(sim, idA, idB)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType, LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false),
      StructField("sim", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_top_pairs"

  // head = WORST kept pair (lowest sim, then lex-largest (id_a, id_b))
  @transient private lazy val cmp = new java.util.Comparator[(Double, Long, Long)] {
    override def compare(a: (Double, Long, Long), b: (Double, Long, Long)): Int = {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c
      else {
        val c2 = java.lang.Long.compare(b._2, a._2)
        if (c2 != 0) c2 else java.lang.Long.compare(b._3, a._3)
      }
    }
  }

  override def createAggregationBuffer(): java.util.PriorityQueue[(Double, Long, Long)] =
    new java.util.PriorityQueue[(Double, Long, Long)](k + 1, cmp)

  private def offer(q: java.util.PriorityQueue[(Double, Long, Long)], p: (Double, Long, Long)): Unit = {
    if (q.size < k) q.offer(p)
    else if (cmp.compare(p, q.peek()) > 0) { q.poll(); q.offer(p) }
  }

  override def update(q: java.util.PriorityQueue[(Double, Long, Long)], row: InternalRow): java.util.PriorityQueue[(Double, Long, Long)] = {
    val s = sim.eval(row); val a = idA.eval(row); val b = idB.eval(row)
    if (s != null && a != null && b != null)
      offer(q, (s.asInstanceOf[Double], a.asInstanceOf[Long], b.asInstanceOf[Long]))
    q
  }

  override def merge(q: java.util.PriorityQueue[(Double, Long, Long)], other: java.util.PriorityQueue[(Double, Long, Long)]): java.util.PriorityQueue[(Double, Long, Long)] = {
    val it = other.iterator()
    while (it.hasNext) offer(q, it.next())
    q
  }

  override def eval(q: java.util.PriorityQueue[(Double, Long, Long)]): Any = {
    // drain a COPY — same window-aggregate safety as TopKPairs.eval
    val c = new java.util.PriorityQueue[(Double, Long, Long)](q)
    val arr = new Array[(Double, Long, Long)](c.size)
    var i = arr.length - 1
    while (i >= 0) { arr(i) = c.poll(); i -= 1 } // drain worst-first → arr best-first
    new GenericArrayData(arr.map(p => InternalRow(p._2, p._3, p._1): Any))
  }

  override def serialize(q: java.util.PriorityQueue[(Double, Long, Long)]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + q.size * 24)
    bb.putInt(q.size)
    val it = q.iterator()
    while (it.hasNext) {
      val p = it.next(); bb.putDouble(p._1); bb.putLong(p._2); bb.putLong(p._3)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[(Double, Long, Long)] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val q = createAggregationBuffer()
    var i = 0
    while (i < n) { q.offer((bb.getDouble, bb.getLong, bb.getLong)); i += 1 }
    q
  }

  override def withNewMutableAggBufferOffset(o: Int): TopPairsAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopPairsAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): TopPairsAgg =
    copy(sim = cs(0), idA = cs(1), idB = cs(2))
}

/** Bucket-local exact top-k cosine pairs for the LSH top-pairs plan:
  * one pass over a bucket's collected (id, vector) entries computes all
  * C(b,2) cosines in a tight primitive loop and keeps only the best `k`
  * in a bounded heap — the bucket's contribution to the global top-k.
  *
  * WHY this exists: enumerating candidate PAIRS as rows (the
  * OrderedPairs shape) is right when verification needs a shuffle-join
  * anyway (set intersection over shingle arrays), but for cosine the
  * verifier input is the two vectors themselves — materializing
  * tables·n·targetBucket/2 pair rows, distinct-shuffling them, and
  * SortMergeJoining the vector payload back in twice moves ~50×the
  * corpus bytes through exchanges. Scoring INSIDE the bucket group
  * moves each vector through exactly one exchange (the bucket groupBy)
  * and ships k rows per bucket onward. Exactness is preserved: any
  * pair in the global top-k of the candidate union is, within every
  * bucket containing it, beaten by fewer than k pairs (those pairs
  * would also outrank it globally), so it survives its bucket's local
  * heap — the union of bucket top-k lists contains the global top-k.
  *
  * Arithmetic is byte-identical to the join formulation it replaces:
  * dot accumulates (double)xᵢ·(double)yᵢ in index order ([[VectorDot]]'s
  * loop), norms are sqrt(dot(v,v)), sim = dot/(na·nb) guarded to 0.0
  * when na·nb ≤ 0 — so a pair scored here and a pair scored by the
  * all-pairs oracle produce the same double bits, and the multi-bucket
  * duplicate collapse downstream can dedup on (sim, id_a, id_b) safely.
  * Tie order matches [[TopPairsAgg]] (sim desc, (id_a, id_b) lex asc),
  * so local-heap → global-heap composition is a single total order.
  * Pair identity is the normalized (min(id), max(id)) two-long struct —
  * any 64-bit ids work (content hashes included); nothing is packed.
  *
  * `maxBucket` bounds the per-bucket pair enumeration (C(b,2) cosines
  * run in ONE task): the default 65536 caps a task at ~2·10⁹ dot
  * products; corpora with known masses of near-identical (uncollapsed)
  * embeddings can raise it to trade wall time for completion. Entry
  * order is irrelevant — every unordered pair is evaluated — so the
  * upstream collect_list needs no sort. */
case class BucketCosineTopPairs(child: Expression, k: Int, maxBucket: Int = 65536)
  extends UnaryExpression with CodegenFallback {

  require(k > 0, s"graft_bucket_top_pairs requires k > 0, got $k")
  require(maxBucket > 1, s"graft_bucket_top_pairs requires maxBucket > 1, got $maxBucket")

  private def vecElem: DataType = child.dataType match {
    case ArrayType(StructType(fs), _) if fs.length == 2 =>
      fs(1).dataType match {
        case ArrayType(et, _) => et
        case _ => NullType
      }
    case _ => NullType
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StructType(fs), _)
        if fs.length == 2 && fs(0).dataType == LongType &&
          (vecElem == FloatType || vecElem == DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_bucket_top_pairs expects array<struct<bigint, array<float|double>>>, got $t")
    }
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false),
      StructField("sim", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_bucket_top_pairs"

  @transient private lazy val floatElems = vecElem == FloatType

  // identical order to TopPairsAgg: head = worst (lowest sim, then
  // lex-largest (id_a, id_b)), so bucket-local and global heaps agree
  @transient private lazy val cmp = new java.util.Comparator[(Double, Long, Long)] {
    override def compare(a: (Double, Long, Long), b: (Double, Long, Long)): Int = {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c
      else {
        val c2 = java.lang.Long.compare(b._2, a._2)
        if (c2 != 0) c2 else java.lang.Long.compare(b._3, a._3)
      }
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val total = arr.numElements()
    // a maxBucket-sized bucket means ~maxBucket²/2 pair evaluations in
    // ONE task — either nbits far too coarse for the corpus, or a mass
    // of NEAR-identical (not exact-duplicate — those are collapsed
    // upstream by lshTopPairs) vectors that share every sign bucket at
    // any nbits. Fail with the remedies rather than strangle an
    // executor; callers who know their corpus is skewed raise the cap
    // deliberately (lshTopPairs(maxBucket=...)). (Memory is never the
    // concern: entries are unpacked once, never pairs.)
    require(total <= maxBucket,
      s"graft_bucket_top_pairs: bucket of $total vectors exceeds maxBucket=$maxBucket — " +
        "raise nbits/tighten targetBucket (lshTopPairsPolicy); if the corpus holds a " +
        "mass of near-identical embeddings, run semantic dedup before top-pairs, or " +
        "raise maxBucket to trade wall time for completion")
    val ids = new Array[Long](total)
    val vecs = new Array[Array[Double]](total)
    val norms = new Array[Double](total)
    var dim = -1
    var b = 0
    var i = 0
    while (i < total) {
      val row = arr.getStruct(i, 2)
      val v = if (row == null) null else row.getArray(1)
      // a null entry or null vector takes part in no pair (mirrors the
      // lshTopPairs null filter; defends direct SQL calls)
      if (v != null) {
        ids(b) = row.getLong(0)
        val n = v.numElements()
        if (dim < 0) dim = n
        else if (n != dim) throw new IllegalArgumentException(
          s"graft_bucket_top_pairs: dimension mismatch ($dim vs $n) — " +
            "mixed embedding widths in the corpus?")
        val d = new Array[Double](n)
        var j = 0
        if (floatElems) while (j < n) { d(j) = v.getFloat(j).toDouble; j += 1 }
        else while (j < n) { d(j) = v.getDouble(j); j += 1 }
        var s = 0.0; j = 0
        while (j < n) { s += d(j) * d(j); j += 1 }
        vecs(b) = d; norms(b) = math.sqrt(s)
        b += 1
      }
      i += 1
    }
    val q = new java.util.PriorityQueue[(Double, Long, Long)](k + 1, cmp)
    i = 0
    while (i < b) {
      var j = i + 1
      while (j < b) {
        val x = vecs(i); val y = vecs(j)
        var s = 0.0; var m = 0
        while (m < dim) { s += x(m) * y(m); m += 1 }
        val nn = norms(i) * norms(j)
        val sim = if (nn > 0) s / nn else 0.0
        val p =
          if (ids(i) < ids(j)) (sim, ids(i), ids(j))
          else (sim, ids(j), ids(i))
        if (q.size < k) q.offer(p)
        else if (cmp.compare(p, q.peek()) > 0) { q.poll(); q.offer(p) }
        j += 1
      }
      i += 1
    }
    val out = new Array[(Double, Long, Long)](q.size)
    var w = out.length - 1
    while (w >= 0) { out(w) = q.poll(); w -= 1 }  // drain worst-first → best-first
    new GenericArrayData(out.map(p => InternalRow(p._2, p._3, p._1): Any))
  }

  override protected def withNewChildInternal(c: Expression): BucketCosineTopPairs =
    copy(child = c)
}

/** Within-cluster SemDeDup drop decision in one primitive loop:
  * `entries` = one cluster's collected array<struct<id, vec>>, output =
  * the ids with at least one LOWER-id cluster-mate at cosine ≥
  * `threshold` (ascending, each id once) — exactly the deterministic
  * lowest-id-survives rule of [[graft.operators.Similarity.semanticDedup]].
  *
  * Exists for the same reason as [[BucketCosineTopPairs]]: the r14 sf30
  * rehearsal showed the equi-join formulation of the within-cluster
  * pairwise stage materializes Σ clusterᵢ² joined ROWS carrying two
  * full vector payloads each (≈1.1 KB/pair; 1.7 TB of row traffic at
  * sf30) just to evaluate one dot product and discard — memory-bound,
  * GC-heavy, and wall-time-unstable across sessions. Here the cluster's
  * vectors are unpacked ONCE into primitive arrays and each candidate
  * pair costs one fused dot product; additionally each id early-exits
  * at its FIRST dropping mate (ids are scanned in ascending order), so
  * duplicate-heavy clusters do far fewer than cluster²/2 evaluations —
  * an exit the join formulation cannot express.
  *
  * `maxCluster` bounds the single-task pair enumeration, mirroring
  * BucketCosineTopPairs.maxBucket: a cluster at the cap means the
  * centroid count k is far too small for the corpus (the SemDeDup knob
  * is k ≈ n/5000) — fail with the remedy, don't strangle an executor. */
case class ClusterDropIds(child: Expression, threshold: Double, maxCluster: Int = 65536)
  extends UnaryExpression with CodegenFallback {

  require(maxCluster > 1, s"graft_cluster_drop_ids requires maxCluster > 1, got $maxCluster")

  private def vecElem: DataType = child.dataType match {
    case ArrayType(StructType(fs), _) if fs.length == 2 =>
      fs(1).dataType match {
        case ArrayType(et, _) => et
        case _ => NullType
      }
    case _ => NullType
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StructType(fs), _)
        if fs.length == 2 && fs(0).dataType == LongType &&
          (vecElem == FloatType || vecElem == DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_cluster_drop_ids expects array<struct<bigint, array<float|double>>>, got $t")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_cluster_drop_ids"

  @transient private lazy val floatElems = vecElem == FloatType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val total = arr.numElements()
    require(total <= maxCluster,
      s"graft_cluster_drop_ids: cluster of $total vectors exceeds maxCluster=$maxCluster — " +
        "the centroid count is too small for this corpus (SemDeDup's knob is k ~ n/5000); " +
        "refine/extend the centroid set, or raise maxCluster to trade wall time for completion")
    val ids = new Array[Long](total)
    val vecs = new Array[Array[Double]](total)
    val norms = new Array[Double](total)
    var dim = -1
    var b = 0
    var i = 0
    while (i < total) {
      val row = arr.getStruct(i, 2)
      val v = if (row == null || row.isNullAt(0)) null else row.getArray(1)
      // a null entry, null ID, or null vector takes part in no pair —
      // it can neither drop nor be dropped (a null id compares null
      // under `a.id < b.id`, a null vector scores null, and null is
      // never ≥ θ — the exact semantics of the join formulation this
      // replaces; an unguarded getLong(0) would read a null id as 0 and
      // crown the row the cluster's lowest id)
      if (v != null) {
        ids(b) = row.getLong(0)
        val n = v.numElements()
        if (dim < 0) dim = n
        else if (n != dim) throw new IllegalArgumentException(
          s"graft_cluster_drop_ids: dimension mismatch ($dim vs $n) — " +
            "mixed embedding widths in the corpus?")
        val d = new Array[Double](n)
        var j = 0
        if (floatElems) while (j < n) { d(j) = v.getFloat(j).toDouble; j += 1 }
        else while (j < n) { d(j) = v.getDouble(j); j += 1 }
        var s = 0.0; j = 0
        while (j < n) { s += d(j) * d(j); j += 1 }
        vecs(b) = d; norms(b) = math.sqrt(s)
        b += 1
      }
      i += 1
    }
    // ascending id order: position index IS "every earlier entry has a
    // lower id", so the inner scan is i < j and the early exit is sound
    val order = (0 until b).sortBy(ids(_)).toArray
    val dropped = Array.newBuilder[Long]
    var jj = 1
    while (jj < b) {
      val j = order(jj)
      val y = vecs(j); val nj = norms(j)
      var ii = 0
      var hit = false
      while (ii < jj && !hit) {
        val i2 = order(ii)
        // STRICTLY lower id, matching the join's a.id < b.id: two rows
        // carrying the same id (corpus collisions) never pair
        if (ids(i2) < ids(j)) {
          val x = vecs(i2)
          var s = 0.0; var m = 0
          while (m < dim) { s += x(m) * y(m); m += 1 }
          val nn = norms(i2) * nj
          if (nn > 0 && s / nn >= threshold) hit = true
        }
        ii += 1
      }
      if (hit) dropped += ids(j)
      jj += 1
    }
    new GenericArrayData(dropped.result())
  }

  override protected def withNewChildInternal(c: Expression): ClusterDropIds =
    copy(child = c)
}

/** Argmax-cosine nearest centroid over a FOLDABLE centroid literal —
  * the zero-shuffle assignment kernel behind
  * [[graft.operators.Similarity.assignClustersHier]]'s coarse stage.
  *
  * The join-formulated argmax (`join(broadcast(cent), lit(true))` +
  * partial-agg max) is semantically identical but streams n·k joined
  * ROWS through the aggregate operator — row machinery per candidate,
  * measured ~10× the cost of the fused loop at the round-15 assignment
  * curve. Here the centroid table ships as a literal in the plan
  * (bounded by the same guard as the forced broadcasts it replaces),
  * is unpacked ONCE per executor into primitive arrays, and each row
  * pays one tight argmax loop inside a plain projection — no join, no
  * exchange, nothing for the scheduler to do.
  *
  * Semantics mirror the join argmax EXACTLY (spec-pinned): highest
  * guarded cosine (zero-norm pairs score 0, never null), ties to the
  * LOWEST cid; a null input vector scores 0 everywhere and lands on
  * the lowest cid, exactly as the join's null-propagating cosine does
  * under `when(na*nb > 0, ...).otherwise(0)`. Dot products accumulate
  * in index order with per-element double widening — bit-identical to
  * [[VectorDot]]. */
case class NearestCentroid(vec: Expression, cents: Expression)
  extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = cents
  override def prettyName: String = "graft_nearest_centroid"
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  private def vecElemOf(t: DataType): Option[DataType] = t match {
    case ArrayType(et @ (FloatType | DoubleType), _) => Some(et)
    case _ => None
  }
  private def centElem: Option[DataType] = cents.dataType match {
    case ArrayType(StructType(fs), _) if fs.length == 2 && fs(0).dataType == LongType =>
      vecElemOf(fs(1).dataType)
    case _ => None
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (!cents.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_nearest_centroid expects a FOLDABLE centroid array (a literal)")
    else (vecElemOf(vec.dataType), centElem) match {
      case (Some(_), Some(_)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_nearest_centroid expects (array<float|double>, " +
          s"array<struct<bigint, array<float|double>>>), got " +
          s"(${vec.dataType}, ${cents.dataType})")
    }

  @transient private lazy val vecFloat =
    vecElemOf(vec.dataType).contains(FloatType)

  // centroids unpacked once per executor into the argmax kernel: ids
  // ascending (ties in sim resolve to the FIRST hit = lowest cid),
  // vectors as primitive double rows, norms precomputed with
  // VectorDot's accumulation order. One kernel object serves BOTH
  // execution paths — interpreted eval and generated code — so the
  // semantics cannot fork between them.
  @transient private lazy val kernel: NearestCentroidKernel = {
    val arr = cents.eval(null).asInstanceOf[ArrayData]
    val centFloat = centElem.contains(FloatType)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    var i = 0
    while (i < arr.numElements()) {
      val row = arr.getStruct(i, 2)
      if (row != null && !row.isNullAt(0) && !row.isNullAt(1)) {
        val v = row.getArray(1)
        val d = new Array[Double](v.numElements())
        var j = 0
        if (centFloat) while (j < d.length) { d(j) = v.getFloat(j).toDouble; j += 1 }
        else while (j < d.length) { d(j) = v.getDouble(j); j += 1 }
        buf += ((row.getLong(0), d))
      }
      i += 1
    }
    require(buf.nonEmpty, "graft_nearest_centroid: empty centroid literal")
    val sorted = buf.sortBy(_._1).toArray
    val d0 = sorted.head._2.length
    sorted.foreach { case (cid, v) => require(v.length == d0,
      s"graft_nearest_centroid: centroid dimension mismatch ($d0 vs ${v.length} at cid=$cid)") }
    val ns = sorted.map { case (_, v) =>
      var s = 0.0; var j = 0
      while (j < v.length) { s += v(j) * v(j); j += 1 }
      math.sqrt(s)
    }
    new NearestCentroidKernel(sorted.map(_._1), sorted.map(_._2), ns, d0, vecFloat)
  }

  override def eval(input: InternalRow): Any = {
    val raw = vec.eval(input)
    // a null vector scores 0 against every centroid (guarded cosine) —
    // argmax ties resolve to the lowest cid, like the join formulation
    if (raw == null) kernel.firstId
    else kernel.nearest(raw.asInstanceOf[ArrayData])
  }

  /** Generated code follows [[BloomMightContain]]'s pattern, not
    * `CodegenFallback`: only the VECTOR child generates code; the
    * unpacked kernel rides the codegen reference array (a k×dim
    * centroid table embedded as source would blow janino's 64 KB
    * method limit). Per row the generated code is one branch and one
    * call into the kernel's primitive argmax loop — no boxed
    * `InternalRow` round-trip, no interpreted re-walk of the child
    * subtree, and the projection stays inside whole-stage codegen
    * (the round-15 CodegenFallback made the coarse stage the hottest
    * interpreted loop of the dedup family). */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kRef = ctx.addReferenceObj("graftNearestKernel", kernel,
      classOf[NearestCentroidKernel].getName)
    val v = vec.genCode(ctx)
    ev.copy(code = code"""
      ${v.code}
      long ${ev.value} = ${v.isNull} ? $kRef.firstId() : $kRef.nearest(${v.value});
      """, isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestCentroid =
    copy(vec = l, cents = r)
}

/** Executor-side state of [[NearestCentroid]], unpacked once from the
  * foldable centroid literal. Public top-level class only because
  * whole-stage-generated code must reference it by name through the
  * codegen reference array; not user API. */
final class NearestCentroidKernel(
    ids: Array[Long], mat: Array[Array[Double]],
    norms: Array[Double], dim: Int, vecFloat: Boolean) extends Serializable {

  /** The lowest centroid id — the argmax of an all-zero score row
    * (null input vectors score 0 everywhere under the guarded cosine). */
  def firstId: Long = ids(0)

  /** Highest guarded cosine, ties to the lowest cid — bit-identical to
    * the join-formulated argmax (dot products accumulate in index
    * order with per-element double widening, [[VectorDot]]'s rule). */
  def nearest(x: ArrayData): Long = {
    val n = x.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"graft_nearest_centroid: dimension mismatch ($dim vs $n) — " +
        "mixed embedding widths in the corpus?")
    val v = new Array[Double](n)
    var j = 0
    if (vecFloat) while (j < n) { v(j) = x.getFloat(j).toDouble; j += 1 }
    else while (j < n) { v(j) = x.getDouble(j); j += 1 }
    var sv = 0.0; j = 0
    while (j < n) { sv += v(j) * v(j); j += 1 }
    val nv = math.sqrt(sv)
    var best = Double.NegativeInfinity
    var bestId = ids(0)
    var i = 0
    while (i < ids.length) {
      val c = mat(i)
      var s = 0.0; var m = 0
      while (m < dim) { s += v(m) * c(m); m += 1 }
      val nn = nv * norms(i)
      val sim = if (nn > 0) s / nn else 0.0
      if (sim > best) { best = sim; bestId = ids(i) }
      i += 1
    }
    bestId
  }
}

/** Argmax-cosine centroid id over a PER-ROW cell array — the FINE
  * stage of [[graft.operators.Similarity.assignClustersHier]] as an
  * in-group scoring expression instead of a join + aggregate.
  *
  * The round-16 assignment curve caught the join-formulated fine
  * stage super-linear: joining each corpus row to the ~√k centroids
  * of its cell materializes n·√k rows — Θ(n^1.5) at the SemDeDup knob
  * k = n/5000 — and the partial-agg argmax then carries the full
  * vector payload in every aggregation buffer of an n-key hash
  * aggregate (measured 38 → 239 s for 10M → 20M rows: spill, not
  * FLOPs). Here the cell's centroid list arrives as ONE array column
  * (built by a k-row groupBy, joined in — broadcast while it fits,
  * shuffled past that) and the argmax is a single fused loop per
  * corpus row: no candidate rows, no n-key aggregate, nothing wider
  * than the row itself. The same in-group-scoring pattern as
  * [[BucketCosineTopPairs]] and [[ClusterDropIds]] (SCALE_CURVE.md
  * catches 3/6/10).
  *
  * Semantics mirror the join+argmax formulation exactly: highest
  * guarded cosine (zero-norm pairs score 0), ties to the LOWEST cid;
  * a null/zero-norm input vector scores 0 everywhere and lands on the
  * lowest cid in the cell. The row's norm arrives precomputed (`vn`)
  * so the doubles match the aggregate formulation bit for bit. */
case class NearestInCell(vec: Expression, vn: Expression, cells: Expression)
  extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = vn
  override def third: Expression = cells
  override def prettyName: String = "graft_nearest_in_cell"
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  private def vecElemOf(t: DataType): Option[DataType] = t match {
    case ArrayType(et @ (FloatType | DoubleType), _) => Some(et)
    case _ => None
  }
  private def cellElem: Option[DataType] = cells.dataType match {
    case ArrayType(StructType(fs), _) if fs.length == 3 &&
        fs(0).dataType == LongType && fs(2).dataType == DoubleType =>
      vecElemOf(fs(1).dataType)
    case _ => None
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vecElemOf(vec.dataType), vn.dataType, cellElem) match {
      case (Some(_), DoubleType, Some(_)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_nearest_in_cell expects (array<float|double>, double, " +
          s"array<struct<bigint, array<float|double>, double>>), got " +
          s"(${vec.dataType}, ${vn.dataType}, ${cells.dataType})")
    }

  @transient private lazy val kernel = new NearestInCellKernel(
    vecElemOf(vec.dataType).contains(FloatType),
    cellElem.contains(FloatType))

  override def eval(input: InternalRow): Any = {
    val c = cells.eval(input)
    val v = vec.eval(input)
    val n = vn.eval(input)
    kernel.nearest(
      if (v == null) null else v.asInstanceOf[ArrayData],
      if (n == null) 0.0 else n.asInstanceOf[Double],
      if (c == null) null else c.asInstanceOf[ArrayData])
  }

  /** Same reference-object pattern as [[NearestCentroid]]: the typed
    * kernel rides the codegen reference array and the per-row code is
    * one call into its primitive loop, fused into whole-stage codegen. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kRef = ctx.addReferenceObj("graftCellKernel", kernel,
      classOf[NearestInCellKernel].getName)
    val v = vec.genCode(ctx); val n = vn.genCode(ctx); val c = cells.genCode(ctx)
    ev.copy(code = code"""
      ${v.code}
      ${n.code}
      ${c.code}
      long ${ev.value} = $kRef.nearest(
        ${v.isNull} ? null : ${v.value},
        ${n.isNull} ? 0.0 : ${n.value},
        ${c.isNull} ? null : ${c.value});
      """, isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): NearestInCell =
    copy(vec = f, vn = s, cells = t)
}

/** Executor-side loop of [[NearestInCell]]. Public top-level class only
  * because whole-stage-generated code must reference it by name through
  * the codegen reference array; not user API. */
final class NearestInCellKernel(vecFloat: Boolean, cellFloat: Boolean)
    extends Serializable {

  /** Argmax guarded cosine over the cell entries (cid, cv, cn); ties
    * and the null/zero-norm-vector cases resolve to the LOWEST cid —
    * [[NearestInCell]]'s scaladoc has the contract. Robust to any
    * entry order (collect_list order is nondeterministic). */
  def nearest(x: ArrayData, vn: Double, cells: ArrayData): Long = {
    require(cells != null && cells.numElements() > 0,
      "graft_nearest_in_cell: null/empty cell — the cell join must " +
        "provide at least one centroid per selectable cell")
    val m = cells.numElements()
    var best = Double.NegativeInfinity
    var bestId = Long.MaxValue
    if (x == null) {
      // all sims 0 → lowest cid
      var i = 0
      while (i < m) {
        val row = cells.getStruct(i, 3)
        val cid = row.getLong(0)
        if (cid < bestId) bestId = cid
        i += 1
      }
      return bestId
    }
    val dim = x.numElements()
    val v = new Array[Double](dim)
    var j = 0
    if (vecFloat) while (j < dim) { v(j) = x.getFloat(j).toDouble; j += 1 }
    else while (j < dim) { v(j) = x.getDouble(j); j += 1 }
    var i = 0
    while (i < m) {
      val row = cells.getStruct(i, 3)
      val cid = row.getLong(0)
      val cv = row.getArray(1)
      val cn = row.getDouble(2)
      if (cv.numElements() != dim) throw new IllegalArgumentException(
        s"graft_nearest_in_cell: dimension mismatch ($dim vs ${cv.numElements()}) — " +
          "mixed embedding widths in the corpus?")
      var s = 0.0; var d = 0
      if (cellFloat) while (d < dim) { s += v(d) * cv.getFloat(d); d += 1 }
      else while (d < dim) { s += v(d) * cv.getDouble(d); d += 1 }
      val nn = vn * cn
      val sim = if (nn > 0) s / nn else 0.0
      if (sim > best || (sim == best && cid < bestId)) { best = sim; bestId = cid }
      i += 1
    }
    if (bestId == Long.MaxValue) {
      // every sim was NaN (an Inf/NaN component upstream makes s/nn
      // NaN, which never beats -Inf): fall back to the lowest cid —
      // the same rule as the null/zero-norm cases — instead of
      // returning a nonexistent id that the recursive cell join would
      // silently DROP the row on (review catch, round 16)
      var i2 = 0
      while (i2 < m) {
        val cid = cells.getStruct(i2, 3).getLong(0)
        if (cid < bestId) bestId = cid
        i2 += 1
      }
    }
    bestId
  }
}

/** Bloom-filter membership probe over a 64-bit key hash, mirroring the
  * shape of Spark's internal runtime-filter BloomFilterMightContain
  * (public pattern): the serialized filter arrives as a foldable binary
  * literal, is deserialized ONCE on the driver, and ships to executors
  * through the codegen reference array — the generated per-row code is
  * a single `mightContainLong` call, fused into whole-stage codegen.
  * Powers [[graft.ds.BloomIndex]]'s delta fast path. */
case class BloomMightContain(valueExpr: Expression, bloomExpr: Expression)
  extends BinaryExpression with Predicate {

  override def left: Expression = valueExpr
  override def right: Expression = bloomExpr
  override def prettyName: String = "graft_bloom_contains"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (valueExpr.dataType == LongType && bloomExpr.dataType == BinaryType && bloomExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_contains expects (long, foldable binary), got " +
        s"(${valueExpr.dataType}, ${bloomExpr.dataType})")

  @transient private lazy val bloom: org.apache.spark.util.sketch.BloomFilter = {
    val bytes = bloomExpr.eval(InternalRow.empty).asInstanceOf[Array[Byte]]
    org.apache.spark.util.sketch.BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
  }

  override def eval(input: InternalRow): Any = {
    val v = valueExpr.eval(input)
    if (v == null) null else bloom.mightContainLong(v.asInstanceOf[Long])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // only the VALUE child generates code; the filter rides the
    // reference array (embedding a multi-MB binary literal in the
    // generated source would blow the 64 KB method limit)
    val bfRef = ctx.addReferenceObj("graftBloom", bloom,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    val v = valueExpr.genCode(ctx)
    ev.copy(code = code"""
      ${v.code}
      boolean ${ev.isNull} = ${v.isNull};
      boolean ${ev.value} = false;
      if (!${ev.isNull}) {
        ${ev.value} = $bfRef.mightContainLong(${v.value});
      }""")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomMightContain =
    copy(valueExpr = l, bloomExpr = r)
}

/** Build side of [[BloomMightContain]]: folds 64-bit key hashes into a
  * `BloomFilter.create(expectedItems, fpp)` filter, one `putLong` per
  * non-null row, and evaluates to the filter's serialized bytes. The
  * layout is `create`'s by construction, so the result always merges
  * with a filter created at the same parameters, and an empty input
  * yields the empty filter of that layout. Unlike Spark's
  * BloomFilterAggregate it reads no session conf: no runtime-join cap
  * can clamp its layout, so no build has to raise one. Powers
  * [[graft.ds.BloomIndex]]'s builds and merges, its only builder: it
  * has no SQL name and no row in [[GraftExpressions.functions]]. */
case class BloomBuild(
    child: Expression, expectedItems: Long, fpp: Double,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[org.apache.spark.util.sketch.BloomFilter]
  with ImplicitCastInputTypes {

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_bloom_build"

  override def createAggregationBuffer(): org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.create(expectedItems, fpp)

  override def update(bf: org.apache.spark.util.sketch.BloomFilter,
      row: InternalRow): org.apache.spark.util.sketch.BloomFilter = {
    val v = child.eval(row)
    if (v != null) bf.putLong(v.asInstanceOf[Long])
    bf
  }

  override def merge(bf: org.apache.spark.util.sketch.BloomFilter,
      other: org.apache.spark.util.sketch.BloomFilter): org.apache.spark.util.sketch.BloomFilter =
    bf.mergeInPlace(other)

  override def eval(bf: org.apache.spark.util.sketch.BloomFilter): Any = serialize(bf)

  override def serialize(bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  override def withNewMutableAggBufferOffset(o: Int): BloomBuild = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomBuild = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): BloomBuild =
    copy(child = cs(0))
}

/** Product-quantization encode: one fused per-row kernel that maps a
  * vector to its `m` dense code indices (argmin-L2 codebook entry per
  * subspace, ties to the lowest index — matching a
  * `ROW_NUMBER() OVER (ORDER BY d2, j)` oracle exactly, since d2 is
  * computed as `|c|² − 2·⟨sub, c⟩` with VectorDot's accumulation
  * order). The codebook arrives as a FOLDABLE
  * `array<array<array<double>>>` literal (m × ks × d), is unpacked
  * once per executor into a flat primitive table, and rides the
  * codegen reference array — the m·ks composed-`Column` formulation
  * this replaces generated a source method past janino's limit at
  * m·ks = 512 and silently fell back to interpreted eval on the
  * corpus-wide encode projection (the PQ hot loop). */
/** Shared scaffolding of the two per-row PQ codebook expressions
  * ([[PqEncode]], [[PqLut]]): one foldable-codebook contract, one type
  * check, one kernel unpack, one codegen shape — so the encode and LUT
  * stages cannot drift apart on input validation (review catch: the
  * copy-pasted pair was the 3rd and 4th copy of this block). Only the
  * VECTOR child generates code; the codebook rides the reference array
  * as the unpacked kernel (the NearestCentroid/BloomMightContain
  * pattern — an embedded m·ks·d literal would blow janino's limit). */
trait PqCodebookExpression extends BinaryExpression {
  def vec: Expression
  def codebook: Expression
  /** Kernel method the per-row call dispatches to ("encode" | "lut"). */
  protected def kernelMethod: String

  override def left: Expression = vec
  override def right: Expression = codebook

  private def vecElemOf(t: DataType): Option[DataType] = t match {
    case ArrayType(et @ (FloatType | DoubleType), _) => Some(et)
    case _ => None
  }
  private def cbOk: Boolean = codebook.dataType match {
    case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (!codebook.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a FOLDABLE codebook (a literal)")
    else if (vecElemOf(vec.dataType).isEmpty || !cbOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float|double>, foldable " +
          s"array<array<array<double>>>), got (${vec.dataType}, ${codebook.dataType})")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  @transient protected lazy val kernel: PqEncodeKernel =
    PqEncodeKernel.fromLiteral(codebook, prettyName,
      vecElemOf(vec.dataType).contains(FloatType))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kRef = ctx.addReferenceObj("graftPqKernel", kernel,
      classOf[PqEncodeKernel].getName)
    val v = vec.genCode(ctx)
    ev.copy(code = code"""
      ${v.code}
      boolean ${ev.isNull} = ${v.isNull};
      ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $kRef.$kernelMethod(${v.value});
      }""")
  }
}

case class PqEncode(vec: Expression, codebook: Expression)
  extends PqCodebookExpression {
  override def prettyName: String = "graft_pq_encode"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def kernelMethod: String = "encode"
  override def nullSafeEval(v: Any, cbIgnored: Any): Any =
    kernel.encode(v.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqEncode =
    copy(vec = l, codebook = r)
}

/** Probe-side PQ lookup table: `lut[s·ks + j] = ⟨sub_s(vec), c_{s,j}⟩`
  * as ONE flat array<double> per row — the composed m·ks-`Column`
  * formulation generated > 64 KB of source at m·ks = 512 (janino
  * limit) and dropped the projection out of codegen. */
case class PqLut(vec: Expression, codebook: Expression)
  extends PqCodebookExpression {
  override def prettyName: String = "graft_pq_lut"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def kernelMethod: String = "lut"
  override def nullSafeEval(v: Any, cbIgnored: Any): Any =
    kernel.lut(v.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqLut =
    copy(vec = l, codebook = r)
}

/** Asymmetric-distance sum: `Σ_s lut[s·ks + codes[s]]` — the PQ scoring
  * inner loop as one tiny generated loop per (probe, corpus) pair.
  * `ksExpected > 0` (what every operator call-site passes) pins the
  * per-subspace code count so codes and a LUT built with DIFFERENT
  * codebook shapes fail loudly even when the widths happen to divide
  * (review catch: m=4 codes against an m=16/ks=32 LUT divides cleanly
  * at ks=128 and would have returned a silent garbage score);
  * `ksExpected ≤ 0` (bare SQL use) falls back to deriving ks from the
  * widths with only the divisibility check. Accumulation is
  * s-ascending — the same left-associated order as an oracle's
  * explicit `t0 + t1 + … + t_{m−1}` pivot. */
case class PqAdc(codes: Expression, lut: Expression, ksExpected: Int)
  extends BinaryExpression {

  override def left: Expression = codes
  override def right: Expression = lut
  override def prettyName: String = "graft_pq_adc"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (codes.dataType, lut.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (a, b) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_pq_adc expects (array<int>, array<double>), got ($a, $b)")
    }

  override def nullSafeEval(c: Any, l: Any): Any =
    PqAdc.sum(c.asInstanceOf[ArrayData], l.asInstanceOf[ArrayData], ksExpected)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) => {
      val cls = PqAdc.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $cls.sum($c, $l, $ksExpected);"
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdc =
    copy(codes = l, lut = r)
}

object PqAdc {
  def sum(c: ArrayData, l: ArrayData, ksExpected: Int): Double = {
    val m = c.numElements()
    if (m == 0 || l.numElements() % m != 0) throw new IllegalArgumentException(
      s"graft_pq_adc: lut width ${l.numElements()} is not a multiple of " +
        s"code count $m — codes and lut built from different codebooks?")
    val ks = l.numElements() / m
    if (ksExpected > 0 && ks != ksExpected) throw new IllegalArgumentException(
      s"graft_pq_adc: lut width ${l.numElements()} / $m codes gives ks = $ks, " +
        s"expected $ksExpected — codes and lut built from different codebooks?")
    var t = 0.0
    var s = 0
    while (s < m) {
      val j = c.getInt(s)
      if (j < 0 || j >= ks) throw new IllegalArgumentException(
        s"graft_pq_adc: code $j out of range [0, $ks) at subspace $s")
      t += l.getDouble(s * ks + j)
      s += 1
    }
    t
  }
}

object PqEncodeKernel {
  /** Unpack a foldable `array<array<array<double>>>` codebook literal
    * (m × ks × d, rectangular) into the flat primitive kernel —
    * shared by [[PqEncode]] and [[PqLut]] so the two stages cannot
    * disagree on layout. */
  def fromLiteral(codebook: Expression, what: String,
      vecFloat: Boolean): PqEncodeKernel = {
    val m0 = codebook.eval(null).asInstanceOf[ArrayData]
    val m = m0.numElements()
    require(m > 0, s"$what: empty codebook literal")
    val sub0 = m0.getArray(0)
    val ks = sub0.numElements()
    require(ks > 0, s"$what: empty subspace codebook")
    val d = sub0.getArray(0).numElements()
    require(d > 0, s"$what: zero-width codebook entries")
    val flat = new Array[Double](m * ks * d)
    var s = 0
    while (s < m) {
      val subCb = m0.getArray(s)
      require(subCb.numElements() == ks,
        s"$what: ragged codebook (subspace $s has ${subCb.numElements()} entries, expected $ks)")
      var j = 0
      while (j < ks) {
        val cv = subCb.getArray(j)
        require(cv.numElements() == d,
          s"$what: ragged codebook entry (s=$s, j=$j has dim ${cv.numElements()}, expected $d)")
        var i = 0
        while (i < d) { flat((s * ks + j) * d + i) = cv.getDouble(i); i += 1 }
        j += 1
      }
      s += 1
    }
    new PqEncodeKernel(flat, m, ks, d, vecFloat)
  }
}

/** Executor-side loop of [[PqEncode]]/[[PqLut]]. Public top-level class
  * only because whole-stage-generated code must reference it by name
  * through the codegen reference array; not user API. */
final class PqEncodeKernel(
    flat: Array[Double], m: Int, ks: Int, d: Int, vecFloat: Boolean)
  extends Serializable {

  // |c_{s,j}|² precomputed with the same ascending-index accumulation
  // order as any oracle's list_dot_product(cv, cv)
  private val cn2: Array[Double] = {
    val a = new Array[Double](m * ks)
    var sj = 0
    while (sj < m * ks) {
      var t = 0.0; var i = 0
      while (i < d) { val x = flat(sj * d + i); t += x * x; i += 1 }
      a(sj) = t; sj += 1
    }
    a
  }

  def encode(raw: Any): ArrayData = {
    val v = raw.asInstanceOf[ArrayData]
    val n = v.numElements()
    if (n != m * d) throw new IllegalArgumentException(
      s"graft_pq_encode: vector dim $n != m·d = ${m * d} — mixed embedding " +
        "widths in the corpus?")
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD2 = Double.PositiveInfinity
      var j = 0
      while (j < ks) {
        val base = (s * ks + j) * d
        var dot = 0.0; var i = 0
        if (vecFloat) while (i < d) { dot += v.getFloat(s * d + i).toDouble * flat(base + i); i += 1 }
        else while (i < d) { dot += v.getDouble(s * d + i) * flat(base + i); i += 1 }
        val d2 = cn2(s * ks + j) - 2.0 * dot
        // strict < keeps the FIRST (lowest-j) minimum — the oracle's
        // ORDER BY d2, j tie-break; an all-NaN row falls back to j = 0
        if (d2 < bestD2) { bestD2 = d2; best = j }
        j += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  /** Flat lookup table `lut[s·ks + j] = ⟨sub_s(v), c_{s,j}⟩` for ADC
    * scoring — i-ascending accumulation, the [[VectorDot]] order. */
  def lut(v: ArrayData): ArrayData = {
    val n = v.numElements()
    if (n != m * d) throw new IllegalArgumentException(
      s"graft_pq_lut: vector dim $n != m·d = ${m * d} — mixed embedding " +
        "widths in the corpus?")
    val out = new Array[Double](m * ks)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < ks) {
        val base = (s * ks + j) * d
        var dot = 0.0; var i = 0
        if (vecFloat) while (i < d) { dot += v.getFloat(s * d + i).toDouble * flat(base + i); i += 1 }
        else while (i < d) { dot += v.getDouble(s * d + i) * flat(base + i); i += 1 }
        out(s * ks + j) = dot
        j += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }
}

object GraftExpressions {
  /** One graft SQL function: its name, the expression class its builder
    * makes (published as the function's `ExpressionInfo`) and the
    * builder from SQL arguments. */
  private[plans] final case class Fn(name: String, cls: Class[_ <: Expression],
      build: Seq[Expression] => Expression) {
    val info: ExpressionInfo = new ExpressionInfo(cls.getName, name)
  }

  /** A SQL call's arguments. SQL text is input from outside the program,
    * so a call with the wrong arity or a non-literal, non-integral or
    * out-of-range parameter fails analysis with the function and the
    * parameter named. */
  private final class SqlArgs(fn: String, es: Seq[Expression], min: Int, max: Int) {
    if (es.length < min || es.length > max) throw new AnalysisException(
      "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$fn`",
        "expectedNum" -> (if (min == max) s"$min" else s"[$min, $max]"),
        "actualNum" -> es.length.toString,
        "docroot" -> org.apache.spark.SPARK_DOC_ROOT))

    def apply(i: Int): Expression = es(i)

    private def literal(i: Int, param: String, sqlType: String): Any = {
      if (!es(i).foldable) throw new AnalysisException("NON_FOLDABLE_ARGUMENT",
        Map("funcName" -> s"`$fn`", "paramName" -> s"`$param`", "paramType" -> sqlType))
      es(i).eval()
    }
    private def invalid(i: Int, param: String, kind: String): Nothing =
      throw new AnalysisException(s"INVALID_PARAMETER_VALUE.$kind", Map(
        "parameter" -> s"`$param`", "functionName" -> s"`$fn`",
        "invalidValue" -> es(i).sql))

    /** An integral literal (TINYINT to BIGINT) whose value fits in an INT. */
    def int(i: Int, param: String): Int = (es(i).dataType, literal(i, param, "INT")) match {
      case (ByteType | ShortType | IntegerType | LongType, v: Number)
          if v.longValue == v.intValue => v.intValue
      case _ => invalid(i, param, "INTEGER")
    }
    def int(i: Int, param: String, default: Int): Int =
      if (es.length > i) int(i, param) else default
    def double(i: Int, param: String): Double = literal(i, param, "DOUBLE") match {
      case d: Decimal => d.toDouble
      case n: Number => n.doubleValue
      case _ => invalid(i, param, "DOUBLE")
    }
    def bool(i: Int, param: String): Boolean = literal(i, param, "BOOLEAN") match {
      case b: java.lang.Boolean => b
      case _ => invalid(i, param, "BOOLEAN")
    }
  }

  private def fn(name: String, cls: Class[_ <: Expression], min: Int, max: Int = -1)(
      build: SqlArgs => Expression): Fn =
    Fn(name, cls, es => build(new SqlArgs(name, es, min, math.max(min, max))))

  /** Every graft SQL function, in one list: [[register]] and
    * [[GraftExtensions]] both install exactly these rows. */
  private[plans] val functions: Seq[Fn] = Seq(
    fn("graft_dot", classOf[VectorDot], 2)(a => VectorDot(a(0), a(1))),
    fn("graft_minhash", classOf[MinHashSig], 2)(a => MinHashSig(a(0), a.int(1, "k"))),
    fn("graft_simhash", classOf[SimHash64], 1)(a => SimHash64(a(0))),
    fn("graft_simhash_md5", classOf[Md5SimHash64], 1)(a => Md5SimHash64(a(0))),
    fn("graft_lsh_bits", classOf[LshSignBits], 2, 3)(a =>
      LshSignBits(a(0), a.int(1, "nbits"), a.int(2, "offset", 0))),
    fn("graft_shingles", classOf[WordShingles], 3)(a =>
      WordShingles(a(0), a.int(1, "n"), a.bool(2, "distinct"))),
    fn("graft_shingle_hashes", classOf[WordShingleHashes], 2)(a =>
      WordShingleHashes(a(0), a.int(1, "n"))),
    fn("graft_intersect_count", classOf[SortedIntersectCount], 2)(a =>
      SortedIntersectCount(a(0), a(1))),
    fn("graft_ordered_pairs", classOf[OrderedPairs], 1)(a => OrderedPairs(a(0))),
    fn("graft_rolling_hash", classOf[RollingHash64], 1)(a => RollingHash64(a(0))),
    fn("graft_bpe_count", classOf[BpeTokenCount], 2)(a => BpeTokenCount(a(0), a(1))),
    fn("graft_text_marker_stats", classOf[TextMarkerStats], 2)(a =>
      TextMarkerStats(a(0), a(1))),
    fn("graft_text_quality_gate", classOf[TextQualityGate], 4)(a =>
      TextQualityGate(a(0), a(1), a(2), a(3))),
    fn("graft_sumprod128", classOf[SumProd128], 2)(a =>
      SumProd128(a(0), a(1)).toAggregateExpression()),
    fn("graft_sumdec128", classOf[SumDec128], 1)(a =>
      SumDec128(a(0)).toAggregateExpression()),
    fn("graft_topk", classOf[TopKPairs], 3)(a =>
      TopKPairs(a(0), a(1), a.int(2, "k")).toAggregateExpression()),
    fn("graft_bloom_contains", classOf[BloomMightContain], 2)(a =>
      BloomMightContain(a(0), a(1))),
    fn("graft_nearest_centroid", classOf[NearestCentroid], 2)(a =>
      NearestCentroid(a(0), a(1))),
    fn("graft_nearest_in_cell", classOf[NearestInCell], 3)(a =>
      NearestInCell(a(0), a(1), a(2))),
    fn("graft_pq_encode", classOf[PqEncode], 2)(a => PqEncode(a(0), a(1))),
    fn("graft_pq_lut", classOf[PqLut], 2)(a => PqLut(a(0), a(1))),
    fn("graft_pq_adc", classOf[PqAdc], 2, 3)(a => PqAdc(a(0), a(1), a.int(2, "ks", -1))),
    fn("graft_bucket_top_pairs", classOf[BucketCosineTopPairs], 2, 3)(a =>
      BucketCosineTopPairs(a(0), a.int(1, "k"), a.int(2, "cap", 65536))),
    fn("graft_top_pairs", classOf[TopPairsAgg], 4)(a =>
      TopPairsAgg(a(0), a(1), a(2), a.int(3, "k")).toAggregateExpression()),
    fn("graft_cluster_drop_ids", classOf[ClusterDropIds], 2, 3)(a =>
      ClusterDropIds(a(0), a.double(1, "threshold"), a.int(2, "cap", 65536))))

  /** Installs every graft SQL function in `spark`'s function registry
    * (idempotent). Needed only for SQL text: the Column helpers below
    * build their expressions directly and resolve on any session.
    * `spark.sql.extensions=graft.plans.GraftExtensions` installs the
    * same functions in every session instead. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach(f => reg.registerFunction(FunctionIdentifier(f.name), f.info, f.build))
  }

  private def column(e: Expression): Column = org.apache.spark.sql.GraftColumn(e)
  private def e(c: Column): Expression = org.apache.spark.sql.GraftColumn.expression(c)

  def dot(a: Column, b: Column): Column = column(VectorDot(e(a), e(b)))
  def sumProd128(x: Column, y: Column): Column =
    column(SumProd128(e(x), e(y)).toAggregateExpression())
  def sumDec128(x: Column): Column = column(SumDec128(e(x)).toAggregateExpression())
  def minhash(shingles: Column, k: Int): Column = column(MinHashSig(e(shingles), k))
  def simhash(tokens: Column): Column = column(SimHash64(e(tokens)))
  def simhashMd5(tokens: Column): Column = column(Md5SimHash64(e(tokens)))
  def lshBits(vec: Column, nbits: Int, offset: Int = 0): Column =
    column(LshSignBits(e(vec), nbits, offset))
  def shingles(text: Column, n: Int, distinct: Boolean): Column =
    column(WordShingles(e(text), n, distinct))
  def shingleHashes(text: Column, n: Int): Column = column(WordShingleHashes(e(text), n))
  def intersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(e(a), e(b)))
  def orderedPairs(ids: Column): Column = column(OrderedPairs(e(ids)))
  def rollingHash(tokens: Column): Column = column(RollingHash64(e(tokens)))
  def bpeCount(tokens: Column, merges: Column): Column =
    column(BpeTokenCount(e(tokens), e(merges)))
  def textMarkerStats(text: Column, markers: Column): Column =
    column(TextMarkerStats(e(text), e(markers)))
  def textQualityGate(text: Column, markers: Column, minQ: Column, wantLang: Column): Column =
    column(TextQualityGate(e(text), e(markers), e(minQ), e(wantLang)))
  def topK(sim: Column, id: Column, k: Int): Column =
    column(TopKPairs(e(sim), e(id), k).toAggregateExpression())
  def bloomContains(hash: Column, bloomBytes: Array[Byte]): Column =
    column(BloomMightContain(e(hash), Literal(bloomBytes)))
  def bloomBuild(hash: Column, expectedItems: Long, fpp: Double): Column =
    column(BloomBuild(e(hash), expectedItems, fpp).toAggregateExpression())
  def bucketTopPairs(entries: Column, k: Int, maxBucket: Int = 65536): Column =
    column(BucketCosineTopPairs(e(entries), k, maxBucket))
  def clusterDropIds(entries: Column, threshold: Double, maxCluster: Int = 65536): Column =
    column(ClusterDropIds(e(entries), threshold, maxCluster))
  def topPairs(sim: Column, idA: Column, idB: Column, k: Int): Column =
    column(TopPairsAgg(e(sim), e(idA), e(idB), k).toAggregateExpression())
  def nearestCentroid(vec: Column, cents: Column): Column =
    column(NearestCentroid(e(vec), e(cents)))
  def nearestInCell(vec: Column, vn: Column, cells: Column): Column =
    column(NearestInCell(e(vec), e(vn), e(cells)))
  def pqEncode(vec: Column, codebook: Column): Column = column(PqEncode(e(vec), e(codebook)))
  def pqLut(vec: Column, codebook: Column): Column = column(PqLut(e(vec), e(codebook)))
  def pqAdc(codes: Column, lut: Column, ks: Int = -1): Column =
    column(PqAdc(e(codes), e(lut), ks))
}

/** `SparkSessionExtensions` entry point:
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` installs
  * every graft SQL function ([[GraftExpressions.functions]]) and the
  * stats-index pruning rule in every session of a cluster deployment. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftExpressions.functions.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.build)))
    // automatic stats-index file skipping for plain reads — analyzer
    // run-once batch, one sidecar-exists probe per query; see
    // graft.ds.AutoPrune for the full design note
    ext.injectPostHocResolutionRule(graft.ds.StatsPruneRule.apply)
  }
}
