package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.agg.BreakdownSpec.{Row => SpecRow, Spec}

/** The breakdown aggregation engine: compiles a variable-spec into ONE
  * `groupBy(keys).agg(exprs…)` — a single shuffle on low-cardinality
  * categorical keys, with partial (map-side) aggregation, hash-agg and spill
  * handled by Catalyst/Tungsten. This is the Spark-native re-expression of
  * the reference's per-group Python loop (`pd_breakdown`,
  * /root/reference/bm_breakdown.py:62-122 and `pd_breakdown_fn`,
  * bm_breakdown.py:179-245).
  *
  * Op vocabulary (bm_breakdown.py:11): breakdown, count, sum, mean, min,
  * max, var, std, sem, q1, q2, q3, pNN, major, list, text — with weighted
  * variants of sum / mean / q1-q3 (weight = product of the weight columns).
  * Beyond-reference scale ops: listN (bounded list), aq1/aq2/aq3 + apNN
  * (bounded-state quantile sketch), nunique / anunique (exact / HLL++
  * distinct count).
  *
  * Documented semantic decisions for a distributed engine:
  *   - null group keys are rendered as −99 / "-99" BEFORE grouping
  *     (pandas drops NaN groups, so the reference fills them:
  *     bm_breakdown.py:105-108); this also merges them with literal −99
  *     values, exactly as the reference does;
  *   - `list` returns distinct values in SORTED order (the reference's
  *     first-appearance order is undefined under parallelism);
  *   - `major` ties break toward the smallest value (see [[MajorAgg]]);
  *   - `count` stays integral (the reference casts to float);
  *   - `pNN` skips nulls (the reference's np.percentile lets NaN poison the
  *     result — a bug we do not replicate);
  *   - output rows are sorted by the group keys (pandas groupby sorts).
  */
object Breakdown {

  def apply(df: DataFrame, spec: String): DataFrame =
    run(df, BreakdownSpec.parse(spec))

  def run(df: DataFrame, spec: Spec): DataFrame = {
    val keys = spec.keys
    val aggs0 = spec.aggs
    if (keys.nonEmpty && aggs0.isEmpty) {
      // keys-only degenerate: the distinct groups (bm_breakdown.py:102-104)
      return df
        .select(keys.map(r => keyCol(df, r).as(r.outName)): _*)
        .distinct()
        .orderBy(keys.map(r => col(r.outName)): _*)
    }
    // FUSION: every exact-quantile op (q1/q2/q3, pNN) is keyed by (variable,
    // the existing weight columns the op multiplies, in spec order), and
    // each key becomes ONE aggregate over the array of its q's —
    // `percentile(x, array(q…))` unweighted (pandas linear interpolation ≡
    // Spark percentile, bm_breakdown.py:241-242), `WeightedQuantile(x, w,
    // q…)` weighted — read back per alias by `element_at`. Both keep one map
    // per group (value → count / summed weight): five separate
    // q1/q2/q3/p10/p90 aggregates would buffer (and serialize, merge and
    // sort) the column five times; the array form does it once (q04: 6.1 s
    // → one-buffer cost; the reserves quant spec's weighted q1/q2/q3 read
    // one map instead of three). A key with one q takes the same path at
    // the same cost. Results are identical: the same interpolation on the
    // same state. pNN ignores weights, so it keys with the unweighted q's;
    // a weighted and an unweighted q, or two weight sets, never share a
    // buffer.
    val colsSet = df.columns.toSet
    def exactQuantile(r: SpecRow): Option[((String, Seq[String]), Double)] =
      if (r.op == "text" || !colsSet.contains(r.variable)) None
      else r.op match {
        case op @ ("q1" | "q2" | "q3") =>
          Some((r.variable, r.weights.filter(colsSet.contains)) -> quartile(op))
        case p if isPercentile(p) =>
          Some((r.variable, Seq.empty[String]) -> p.drop(1).toDouble / 100.0)
        case _ => None
      }
    val quantRows = aggs0.flatMap(exactQuantile)
    val quantKeys = quantRows.map(_._1).distinct
    val quantQs = quantKeys.map(key =>
      key -> quantRows.filter(_._1 == key).map(_._2).distinct.sorted).toMap
    def fusedOf(r: SpecRow): Option[(String, Int)] =
      exactQuantile(r).map { case (key, q) =>
        (s"_qfuse_${quantKeys.indexOf(key)}", quantQs(key).indexOf(q))
      }

    val plainAggCols = aggs0.filter(fusedOf(_).isEmpty)
      .map(r => aggCol(df, r).as(r.outName))
    val fusedAggCols = quantKeys.zipWithIndex.map { case (key @ (v, wts), i) =>
      val qs = quantQs(key)
      val agg =
        if (wts.isEmpty) percentile(masked(v), array(qs.map(lit): _*))
        else WeightedQuantile(masked(v), weightProduct(wts), qs)
      agg.as(s"_qfuse_$i")
    }
    val aggCols = plainAggCols ++ fusedAggCols
    val finalCols =
      keys.map(r => col(r.outName)) ++ aggs0.map { r =>
        fusedOf(r) match {
          case Some((helper, i)) => element_at(col(helper), i + 1).as(r.outName)
          case None => col(r.outName)
        }
      }
    val out =
      if (keys.isEmpty) df.agg(aggCols.head, aggCols.tail: _*).select(finalCols: _*)
      else {
        val keyCols = keys.map(r => keyCol(df, r).as(r.outName))
        df.groupBy(keyCols: _*)
          .agg(aggCols.head, aggCols.tail: _*)
          .select(finalCols: _*)
          .orderBy(keys.map(r => col(r.outName)): _*)
      }
    out
  }

  /** Group key with nulls (and NaN) rendered as −99, merging with literal
    * −99 values exactly like the reference's fillna(-99)
    * (bm_breakdown.py:105-108). */
  private def keyCol(df: DataFrame, r: SpecRow): Column = {
    val c = col(r.variable)
    df.schema(r.variable).dataType match {
      case StringType => coalesce(c, lit("-99"))
      case DoubleType | FloatType => coalesce(nanvl(c, lit(-99.0)), lit(-99.0))
      case dt: NumericType => coalesce(c, lit(-99).cast(dt))
      case _ => c
    }
  }

  private val pandasOps =
    Set("count", "sum", "mean", "min", "max", "var", "std", "sem")

  /** q1/q2/q3 → 0.25/0.5/0.75. */
  private def quartile(op: String): Double = ("q1q2q3".indexOf(op) / 2 + 1) * 0.25

  /** `pNN`: the exact percentile NN/100. */
  private def isPercentile(op: String): Boolean =
    op.startsWith("p") && op.drop(1).nonEmpty && op.drop(1).forall(_.isDigit)

  // NaN inputs behave like pandas skipna everywhere: mask NaN → null so
  // count() skips it, avg() ignores it, and max() doesn't rank it greatest
  // (NaN sorts above all doubles in Spark). The weighted ops mask NaN
  // independently; this makes the unweighted ops agree.
  private def masked(v: String): Column =
    nanvl(col(v).cast(DoubleType), lit(null).cast(DoubleType))

  /** Product of the weight columns (callers mask NaN where needed). */
  private def weightProduct(wts: Seq[String]): Column =
    wts.map(w => col(w).cast(DoubleType)).reduce(_ * _)

  /** Every op but the exact quantiles, which `run` fuses per key. */
  private def aggCol(df: DataFrame, r: SpecRow): Column = {
    val cols = df.columns.toSet
    // weights are silently filtered to existing columns (bm_breakdown.py:199-203)
    val wts = r.weights.filter(cols.contains)
    val op = r.op
    def x: Column = masked(r.variable)
    def wprod: Column = weightProduct(wts)

    if (op == "text") {
      // constant column from the raw 3rd cell, else the var name
      // (bm_breakdown.py:206-211)
      val v = if (r.cells.length > 2) r.cells(2) else r.variable
      max(lit(v))
    } else if (!cols.contains(r.variable)) {
      max(lit(null).cast(DoubleType)) // unknown var → null (bm_breakdown.py:212-214)
    } else op match {
      case "list" =>
        // sorted distinct, comma-joined (deviation: reference is
        // first-appearance order, bm_breakdown.py:215-216)
        concat_ws(",", sort_array(collect_set(col(r.variable).cast(StringType))))
      case l if l.startsWith("list") && l.drop(4).nonEmpty &&
          l.drop(4).forall(_.isDigit) =>
        // `listN`: bounded-state variant for high-cardinality groups —
        // smallest N distinct values + ",…" overflow marker
        BoundedListAgg(col(r.variable), l.drop(4).toInt)
      case "sum" if wts.nonEmpty =>
        // nansum(Π(x·w…)): null/NaN products contribute 0 (bm_breakdown.py:217-219)
        coalesce(sum(nanvl(x * wprod, lit(null).cast(DoubleType))), lit(0.0))
      case "mean" if wts.nonEmpty =>
        // rows where x non-null; ws = Π(w), NaN→0; null iff Σws = 0
        // (bm_breakdown.py:220-227)
        val w0 = coalesce(nanvl(wprod, lit(0.0)), lit(0.0))
        val den = sum(when(x.isNotNull, w0).otherwise(lit(0.0)))
        val num = sum(when(x.isNotNull, x * w0).otherwise(lit(0.0)))
        when(den =!= 0.0, num / den)
      case "aq1" | "aq2" | "aq3" =>
        // beyond-reference: bounded-state quantile sketch for unbounded
        // groups (ApproxWeightedQuantile Scaladoc); weightless → w ≡ 1
        val q = quartile(op.drop(1))
        ApproxWeightedQuantile(x, if (wts.nonEmpty) wprod else lit(1.0), q, 256)
      case p if p.startsWith("ap") && p.drop(2).nonEmpty &&
          p.drop(2).forall(_.isDigit) =>
        // `apNN`: bounded-state percentile — Spark's exact `percentile`
        // buffers every group value, which is unbounded state at 100 TB;
        // the sketch caps it at maxBins (lossless below that cardinality)
        ApproxWeightedQuantile(x, if (wts.nonEmpty) wprod else lit(1.0),
          p.drop(2).toDouble / 100.0, 256)
      case "nunique" | "anunique" =>
        // beyond-reference: distinct count (pandas nunique drops NaN).
        // `nunique` is exact — count_distinct shuffles every distinct value,
        // fine for categorical columns; `anunique` is the 100 TB path: an
        // HLL++ sketch (~KB bounded state per group, partial-aggregatable)
        // for high-cardinality columns (doc/user ids) where exactness would
        // move the column itself through the shuffle
        val v = df.schema(r.variable).dataType match {
          case DoubleType | FloatType => x
          case _ => col(r.variable)
        }
        if (op == "nunique") count_distinct(v) else approx_count_distinct(v)
      case "count" => count(x)
      case "sum" => coalesce(sum(x), lit(0.0)) // pandas all-NaN sum = 0.0
      case "mean" => avg(x)
      case "min" => min(x)
      case "max" => max(x)
      case "var" => var_samp(x) // pandas ddof=1
      case "std" => stddev_samp(x)
      case "sem" => stddev_samp(x) / sqrt(count(x)) // std/√n (ddof=1)
      case "major" => MajorAgg(col(r.variable), df.schema(r.variable).dataType)
      case _ =>
        max(lit(null).cast(DoubleType)) // unknown op → null (v stays NaN)
    }
  }
}
