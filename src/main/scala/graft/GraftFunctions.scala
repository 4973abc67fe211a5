package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, ElementAt, Literal}
import org.apache.spark.sql.types.{DoubleType, StringType}

import graft.agg.{ApproxWeightedQuantile, MajorAgg, WeightedQuantile}

/** SQL registration for the engine's custom aggregates, so `spark.sql`
  * users get the same surface as the Column API:
  *
  *   SELECT lito, weighted_quantile(grade, mine * volume, 0.5), major(lito)
  *   FROM blocks GROUP BY lito
  */
object GraftFunctions {
  /** Lift a Column→Column composition into a SQL function builder: the
    * child expression round-trips through the Column API, so every
    * Column-form operator in [[graft.ext.TextAnalysis]] registers without
    * a parallel catalyst-node implementation. */
  private def columnFn(
      e: org.apache.spark.sql.catalyst.expressions.Expression)(
      f: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    val b = org.apache.spark.sql.graftbridge.Bridge
    b.expressionEager(f(b.column(e)))
  }

  /** Literal numeric argument (the quantile q) → double. */
  private def literalDouble(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Double =
    e.eval() match {
      case d: java.lang.Double => d.doubleValue()
      case d: java.math.BigDecimal => d.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: java.lang.Number => n.doubleValue()
      case other => throw new IllegalArgumentException(s"q must be a literal, got $other")
    }

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction("weighted_quantile", exprs => {
      require(exprs.length == 3, "weighted_quantile(value, weight, q)")
      // the aggregate returns array<double>; its one element is the result
      ElementAt(WeightedQuantile(Cast(exprs(0), DoubleType),
        Cast(exprs(1), DoubleType), Seq(literalDouble(exprs(2))))
        .toAggregateExpression(), Literal(1))
    }, "built-in")
    registry.createOrReplaceTempFunction("approx_weighted_quantile", exprs => {
      require(exprs.length == 3 || exprs.length == 4,
        "approx_weighted_quantile(value, weight, q[, maxBins])")
      val maxBins =
        if (exprs.length == 4) exprs(3).eval().asInstanceOf[Number].intValue()
        else 256
      ApproxWeightedQuantile(Cast(exprs(0), DoubleType),
        Cast(exprs(1), DoubleType), literalDouble(exprs(2)), maxBins)
    }, "built-in")
    registry.createOrReplaceTempFunction("hashed_shingles", exprs => {
      require(exprs.length == 1 || exprs.length == 2,
        "hashed_shingles(text[, n])")
      val n =
        if (exprs.length == 2) exprs(1).eval().asInstanceOf[Number].intValue()
        else 3
      graft.functions.HashedShingles(exprs.head, n)
    }, "built-in")
    registry.createOrReplaceTempFunction("simhash", exprs => {
      require(exprs.length == 1, "simhash(text)")
      graft.functions.SimHashSketch(exprs.head)
    }, "built-in")
    registry.createOrReplaceTempFunction("sorted_intersect_size", exprs => {
      require(exprs.length == 2, "sorted_intersect_size(a, b)")
      graft.functions.SortedIntersectSize(exprs(0), exprs(1))
    }, "built-in")
    registry.createOrReplaceTempFunction("jaccard_sorted", exprs => {
      require(exprs.length == 2, "jaccard_sorted(a, b)")
      import org.apache.spark.sql.catalyst.expressions.{Add, Divide, Size, Subtract}
      val inter = Cast(graft.functions.SortedIntersectSize(exprs(0), exprs(1)), DoubleType)
      val union = Subtract(
        Add(Cast(Size(exprs(0)), DoubleType), Cast(Size(exprs(1)), DoubleType)),
        inter)
      Divide(inter, union)
    }, "built-in")
    registry.createOrReplaceTempFunction("redact_pii", exprs => {
      require(exprs.length == 1, "redact_pii(text)")
      import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RegExpReplace}
      // same pattern list as TextAnalysis.redactPii — one source of truth
      graft.ext.TextAnalysis.PiiPatterns.foldLeft(exprs.head: Expression) {
        case (e, (re, tag)) => RegExpReplace(e, Literal(re), Literal(tag))
      }
    }, "built-in")
    registry.createOrReplaceTempFunction("vec_dot", exprs => {
      require(exprs.length == 2, "vec_dot(a, b)")
      graft.functions.DotProduct(exprs(0), exprs(1))
    }, "built-in")
    registry.createOrReplaceTempFunction("bounded_list", exprs => {
      require(exprs.length == 2, "bounded_list(value, cap)")
      val cap = exprs(1).eval().asInstanceOf[Number].intValue()
      graft.agg.BoundedListAgg(Cast(exprs(0), StringType), cap)
    }, "built-in")
    // text-analysis surface: the Column-form operators lifted to SQL
    registry.createOrReplaceTempFunction("token_count", exprs => {
      require(exprs.length == 1, "token_count(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.tokenCount)
    }, "built-in")
    registry.createOrReplaceTempFunction("lang_id", exprs => {
      require(exprs.length == 1, "lang_id(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.langId)
    }, "built-in")
    registry.createOrReplaceTempFunction("quality_score", exprs => {
      require(exprs.length == 1, "quality_score(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.qualityScore)
    }, "built-in")
    registry.createOrReplaceTempFunction("normalize_text", exprs => {
      require(exprs.length == 1, "normalize_text(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.normalize)
    }, "built-in")
    registry.createOrReplaceTempFunction("token_entropy", exprs => {
      require(exprs.length == 1, "token_entropy(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.tokenEntropyCol)
    }, "built-in")
    registry.createOrReplaceTempFunction("deflate_ratio", exprs => {
      require(exprs.length == 1, "deflate_ratio(t)")
      columnFn(exprs.head)(graft.functions.DeflateRatio.column)
    }, "built-in")
    registry.createOrReplaceTempFunction("fingerprint", exprs => {
      require(exprs.length == 1 || exprs.length == 2, "fingerprint(t[, n])")
      val n =
        if (exprs.length == 2) exprs(1).eval().asInstanceOf[Number].intValue()
        else 8
      columnFn(exprs.head)(graft.ext.TextAnalysis.fingerprint(_, n))
    }, "built-in")
    registry.createOrReplaceTempFunction("hyperplane_bucket", exprs => {
      require(exprs.length == 1 || exprs.length == 2,
        "hyperplane_bucket(vec[, bits])")
      val bits =
        if (exprs.length == 2) exprs(1).eval().asInstanceOf[Number].intValue()
        else 8
      graft.functions.HyperplaneBucket(
        Cast(exprs.head, org.apache.spark.sql.types.ArrayType(DoubleType)), bits)
    }, "built-in")
    registry.createOrReplaceTempFunction("vector_mean", exprs => {
      require(exprs.length == 1, "vector_mean(vec)")
      graft.agg.VectorMeanAgg(
        Cast(exprs.head, org.apache.spark.sql.types.ArrayType(DoubleType)))
    }, "built-in")
    // Gopher-style quality signals (r6)
    registry.createOrReplaceTempFunction("mean_word_length", exprs => {
      require(exprs.length == 1, "mean_word_length(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.meanWordLength)
    }, "built-in")
    registry.createOrReplaceTempFunction("symbol_word_ratio", exprs => {
      require(exprs.length == 1, "symbol_word_ratio(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.symbolWordRatio)
    }, "built-in")
    registry.createOrReplaceTempFunction("alpha_word_fraction", exprs => {
      require(exprs.length == 1, "alpha_word_fraction(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.alphaWordFraction)
    }, "built-in")
    registry.createOrReplaceTempFunction("dup_line_fraction", exprs => {
      require(exprs.length == 1, "dup_line_fraction(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.dupLineFraction)
    }, "built-in")
    registry.createOrReplaceTempFunction("dup_para_fraction", exprs => {
      require(exprs.length == 1, "dup_para_fraction(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.dupParaFraction)
    }, "built-in")
    registry.createOrReplaceTempFunction("dup_shingle_fraction", exprs => {
      require(exprs.length == 1 || exprs.length == 2,
        "dup_shingle_fraction(t[, n])")
      val n =
        if (exprs.length == 2) exprs(1).eval().asInstanceOf[Number].intValue()
        else 3
      columnFn(exprs.head)(graft.ext.TextAnalysis.dupShingleFraction(_, n))
    }, "built-in")
    registry.createOrReplaceTempFunction("min_md5_ngram", exprs => {
      require(exprs.length == 1 || exprs.length == 2, "min_md5_ngram(text[, n])")
      val n =
        if (exprs.length == 2) exprs(1).eval().asInstanceOf[Number].intValue()
        else 8
      graft.functions.MinMd5Ngram(exprs.head, n)
    }, "built-in")
    registry.createOrReplaceTempFunction("token_ngram_hashes", exprs => {
      require(exprs.length == 2, "token_ngram_hashes(text, k)")
      graft.functions.TokenNgramHashes(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue())
    }, "built-in")
    registry.createOrReplaceTempFunction("dsir_slots", exprs => {
      require(exprs.length == 2, "dsir_slots(text, buckets)")
      graft.functions.DsirSlots(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue())
    }, "built-in")
    registry.createOrReplaceTempFunction("bigram_hashes", exprs => {
      require(exprs.length == 1, "bigram_hashes(text)")
      graft.functions.BigramHashes(exprs.head)
    }, "built-in")
    registry.createOrReplaceTempFunction("misra_gries", exprs => {
      require(exprs.length == 1 || exprs.length == 2,
        "misra_gries(value[, capacity])")
      val cap =
        if (exprs.length == 2) exprs(1).eval().asInstanceOf[Number].intValue()
        else 4096
      graft.agg.MisraGriesAgg(Cast(exprs.head, StringType), cap)
    }, "built-in")
    registry.createOrReplaceTempFunction("major", exprs => {
      require(exprs.length == 1, "major(value)")
      // Mirror the Column helper: MajorAgg's buffer codec only handles
      // string and double keys, so cast everything else (INT, DECIMAL, …)
      // to double. Builders run after children resolve, so dataType is safe.
      val child = exprs.head
      if (child.dataType == StringType) MajorAgg(child)
      else MajorAgg(Cast(child, DoubleType))
    }, "built-in")
  }
}
