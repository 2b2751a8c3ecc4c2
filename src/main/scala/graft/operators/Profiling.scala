package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Column profiling — the data-quality report every lake maintenance
  * cycle runs before trusting a drop: per-column row/null/distinct
  * counts and min/max, computed in ONE pass over the data.
  *
  * Shape: the non-distinct aggregates (counts, min/max, row count)
  * land in a single `agg(...)` — one scan, all map-side combinable.
  * Exact distinct counts each run as their OWN single-column
  * aggregate, cross-joined back as 1-row frames: k distinct columns
  * in one `agg` make Catalyst plan an Expand that multiplies every
  * scan row by k+1 before a single hash aggregate holding ALL
  * columns' value sets at once — the round-9 scale rehearsal measured
  * that shape spilling super-linearly at a 10× corpus, while k
  * separate column-pruned passes shuffle only per-column partial
  * distinct values and peak at one column's working set (columnar
  * scans make the extra passes nearly free). The wide 1-row result
  * then unpivots driver-free into one row per column. At 100 TB exact
  * distincts still dominate; `approxDistinct = true` swaps them for
  * HyperLogLog sketches (`approx_count_distinct`, map-side
  * combinable, single pass, no extra scans) — the right default for
  * monitoring, while the exact path stays the oracle-comparable one.
  *
  * Numeric min/max surface as DOUBLE, string min/max as STRING, each
  * null for the other family — profiles of mixed-type tables stay one
  * uniform schema. The lane is decided by which input LIST the
  * occurrence came from: a column passed in both `numericCols` and
  * `stringCols` profiles twice, once per lane (the string lane casts
  * to string BEFORE aggregating, so its min/max are lexicographic —
  * treat-as-string semantics). */
object Profiling {

  /** @param pinInput materialize the projected input once
    *   (`localCheckpoint`) before fanning out the k per-column distinct
    *   aggregates. The exact-distinct path re-executes the input's
    *   lineage k+1 times — free for a columnar TABLE SCAN (each pass is
    *   column-pruned to one column, the default assumption and why this
    *   defaults off), but a DERIVED frame (joins/transforms upstream)
    *   re-runs its whole pipeline per column; such callers set
    *   `pinInput = true` and pay one materialization of exactly the
    *   requested columns instead. Irrelevant under `approxDistinct`
    *   (single pass). */
  def profile(
      df: DataFrame,
      numericCols: Seq[String],
      stringCols: Seq[String],
      approxDistinct: Boolean = false,
      pinInput: Boolean = false): DataFrame = {

    val all = numericCols ++ stringCols
    require(all.nonEmpty, "profile: no columns requested")
    val missing = all.filterNot(df.columns.contains)
    require(missing.isEmpty, s"profile: no such columns: ${missing.mkString(", ")}")

    // pin = the requested columns only (need-based, PinAuditSpec rule);
    // every pinned column feeds an aggregate below. Projected DISTINCT:
    // a column listed in both numericCols and stringCols appears twice
    // in `all`, and a duplicate-named pin projection would turn every
    // later `src.col(name)` into an ambiguous-reference
    // AnalysisException that the unpinned path never raises
    val src =
      if (pinInput && !approxDistinct)
        df.select(all.distinct.map(c => df.col("`" + c.replace("`", "``") + "`")): _*)
          .localCheckpoint(false)
      else df

    // exact-name resolution: backtick-quote (doubling inner backticks)
    // so a dot in a column name is a character, not a struct access
    def qcol(c: String) = src.col("`" + c.replace("`", "``") + "`")

    // internal aliases are INDEX-based and column names appear only as
    // lit() values — a name with spaces, dots, hyphens, or quotes is
    // data here, never an identifier to re-parse
    // lane = which input LIST this occurrence of `all` came from, by
    // position (the first numericCols.length entries are the numeric
    // occurrences) — `numericCols.contains(c)` would profile a column
    // listed in BOTH lists as numeric twice and never as string
    def numericLane(i: Int): Boolean = i < numericCols.length

    val aggs = all.zipWithIndex.flatMap { case (c, i) =>
      val base =
        if (numericLane(i))
          Seq(count(qcol(c)).as(s"__cnt_$i"),
            min(qcol(c)).cast("double").as(s"__mn_$i"),
            max(qcol(c)).cast("double").as(s"__mx_$i"))
        else
          // cast BEFORE aggregating: the string lane profiles the
          // column AS a string (lexicographic min/max) — required for
          // dual-lane numeric columns, a no-op for actual strings, and
          // it keeps the unpivot's struct-array element types aligned
          // (ANSI coercion would otherwise cast real string minima to
          // the numeric column's type at runtime and throw)
          Seq(count(qcol(c)).as(s"__cnt_$i"),
            min(qcol(c).cast("string")).as(s"__smn_$i"),
            max(qcol(c).cast("string")).as(s"__smx_$i"))
      if (approxDistinct) base :+ approx_count_distinct(qcol(c)).as(s"__nd_$i")
      else base
    } :+ count(lit(1)).as("__rows")

    // exact distincts: one single-column aggregate per column (each a
    // plain two-phase partial-distinct, no Expand), cross-joined as
    // 1-row frames — see the object scaladoc for why
    val wide = all.zipWithIndex.foldLeft(src.agg(aggs.head, aggs.tail: _*)) {
      case (acc, (c, i)) if !approxDistinct =>
        acc.crossJoin(src.agg(count_distinct(qcol(c)).as(s"__nd_$i")))
      case (acc, _) => acc
    }

    // unpivot: explode an array of per-column structs — pure projection
    // over the 1-row aggregate, no driver collect, no SQL re-parsing
    val nullD = lit(null).cast("double"); val nullS = lit(null).cast("string")
    val entries = all.zipWithIndex.map { case (c, i) =>
      val (mn, mx, smn, smx) =
        if (numericLane(i))
          (col(s"__mn_$i"), col(s"__mx_$i"), nullS, nullS)
        else (nullD, nullD, col(s"__smn_$i"), col(s"__smx_$i"))
      struct(lit(c).as("column"), col(s"__cnt_$i").as("n_nonnull"),
        col(s"__nd_$i").cast("long").as("n_distinct"),
        mn.as("min_num"), mx.as("max_num"), smn.as("min_str"), smx.as("max_str"))
    }
    wide.select(col("__rows"), explode(array(entries: _*)).as("e"))
      .select(col("e.column").as("column"), col("__rows").as("n_rows"),
        (col("__rows") - col("e.n_nonnull")).as("n_nulls"),
        col("e.n_distinct").as("n_distinct"),
        col("e.min_num").as("min_num"), col("e.max_num").as("max_num"),
        col("e.min_str").as("min_str"), col("e.max_str").as("max_str"))
  }

  /** Pairwise Pearson correlation matrix over numeric columns — the
    * redundancy/leakage audit run before a feature set is trusted.
    * One row per unordered pair (col_a < col_b in the given order):
    * (col_a, col_b, n, corr_r).
    *
    * ENGINE-PORTABLE BY CONSTRUCTION: a streaming `corr` accumulates
    * doubles in partition order, so no two engines (or two runs at
    * different parallelism) agree bitwise. Here every value is first
    * snapped to an exact integer lattice (`round(x·10^scale)` as
    * decimal) and the six sufficient statistics per pair — n, Σx, Σy,
    * Σxy, Σx², Σy² — are EXACT integer sums (combinable, order-free).
    * Only the final closed form runs in floating point, on identical
    * inputs in a pinned evaluation order, so any engine lands on the
    * same bytes. `scale` must cover the data's decimal places
    * (lattice snapping is part of the metric's definition, documented,
    * not a hidden approximation).
    *
    * Semantics: pairwise-complete by default (each pair uses rows
    * where BOTH columns are non-null — masked sums, still one scan,
    * still map-side combinable). `listwise = true` drops rows with ANY
    * null up front and shares the per-column sums across pairs —
    * 2k + C(k,2) + 1 aggregates instead of 6·C(k,2), ~2.4× less
    * decimal work at k = 4, identical results on null-free data (the
    * standard listwise-deletion correlation matrix). Zero variance on
    * either side → corr null.
    *
    * Scale shape: one scan, partial-combine aggregates, one 1-row
    * exchange; the unpivot to pair rows is a projection of the single
    * aggregate row. Nothing is quadratic in ROWS — only in requested
    * columns, which a caller bounds. */
  def corrMatrix(df: DataFrame, cols: Seq[String], scale: Int = 4,
      listwise: Boolean = false): DataFrame = {
    require(cols.size >= 2, "corrMatrix: need at least two columns")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"corrMatrix: no such columns: ${missing.mkString(", ")}")

    def qcol(c: String) = df.col("`" + c.replace("`", "``") + "`")
    val mult = math.pow(10d, scale)
    // int64 lattice values + the codegen'd 128-bit product sum
    // (GraftExpressions.SumProd128) replace the decimal(38,0) products:
    // same exact integers (a round(v·10^s) that exceeds int64 was never
    // exact in the double it came from), ~3.6× less per-row aggregate
    // cost (BigDecimal multiply → multiplyHigh), identical closed form.
    def lat(c: String) =
      round(qcol(c).cast("double") * mult, 0).cast("long")
    def sp128(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      graft.plans.GraftExpressions.sumProd128(x, y)

    val pairs = for { i <- cols.indices; j <- i + 1 until cols.size }
      yield (i, j)

    val (wide, entries) = if (listwise) {
      val src = df.na.drop(cols)
      val aggs = (count(lit(1)).as("__n") +:
        cols.indices.flatMap(i => Seq(
          sp128(lat(cols(i)), lit(1L)).as(s"__s_$i"),
          sp128(lat(cols(i)), lat(cols(i))).as(s"__ss_$i")))) ++
        pairs.zipWithIndex.map { case ((i, j), p) =>
          sp128(lat(cols(i)), lat(cols(j))).as(s"__sp_$p") }
      val w = src.agg(aggs.head, aggs.tail: _*)
      val es = pairs.zipWithIndex.map { case ((i, j), p) =>
        struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
          col("__n").as("n"),
          col(s"__s_$i").cast("double").as("sx"),
          col(s"__s_$j").cast("double").as("sy"),
          col(s"__sp_$p").cast("double").as("sxy"),
          col(s"__ss_$i").cast("double").as("sxx"),
          col(s"__ss_$j").cast("double").as("syy"))
      }
      (w, es)
    } else {
      val aggs = pairs.zipWithIndex.flatMap { case ((i, j), p) =>
        val both = qcol(cols(i)).isNotNull && qcol(cols(j)).isNotNull
        val xm = when(both, lat(cols(i)))
        val ym = when(both, lat(cols(j)))
        Seq(
          count(when(both, 1)).as(s"__n_$p"),
          sp128(xm, lit(1L)).as(s"__sx_$p"), sp128(ym, lit(1L)).as(s"__sy_$p"),
          sp128(xm, ym).as(s"__sxy_$p"),
          sp128(xm, xm).as(s"__sxx_$p"), sp128(ym, ym).as(s"__syy_$p"))
      }
      val w = df.agg(aggs.head, aggs.tail: _*)
      val es = pairs.zipWithIndex.map { case ((i, j), p) =>
        struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
          col(s"__n_$p").as("n"),
          col(s"__sx_$p").cast("double").as("sx"),
          col(s"__sy_$p").cast("double").as("sy"),
          col(s"__sxy_$p").cast("double").as("sxy"),
          col(s"__sxx_$p").cast("double").as("sxx"),
          col(s"__syy_$p").cast("double").as("syy"))
      }
      (w, es)
    }
    val nD = col("e.n").cast("double")
    val varx = nD * col("e.sxx") - col("e.sx") * col("e.sx")
    val vary = nD * col("e.syy") - col("e.sy") * col("e.sy")
    val cov = nD * col("e.sxy") - col("e.sx") * col("e.sy")
    wide.select(explode(array(entries: _*)).as("e"))
      .select(col("e.col_a").as("col_a"), col("e.col_b").as("col_b"),
        col("e.n").as("n"),
        round(when(varx > 0 && vary > 0,
          cov / (sqrt(varx) * sqrt(vary))), 6).as("corr_r"))
  }
}
