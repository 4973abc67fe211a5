package graft.agg

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.element_at
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Open-addressing (value → summed weight) map for [[WeightedQuantile]].
  * A value is keyed by its bits in sign-flipped form ([[WQMap.sortKey]]):
  * only bit-equal values share a slot (−0.0 and 0.0 stay apart, as in the
  * reference's sort), and signed `Long` order is the value order. NaN never
  * enters (masked in `update`), so [[WQMap.Empty]], a NaN pattern, marks a
  * free slot. Load factor ≤ 3/4, capacity a power of two. */
final class WQMap(var keys: Array[Long], var ws: Array[Double], var size: Int) {

  def add(k: Long, w: Double): Unit = {
    val mask = keys.length - 1
    var i = WQMap.slot(k, mask)
    while (keys(i) != k && keys(i) != WQMap.Empty) i = (i + 1) & mask
    if (keys(i) == k) ws(i) += w
    else {
      keys(i) = k; ws(i) = w; size += 1
      if (size * 4L > keys.length * 3L) grow()
    }
  }

  def weight(k: Long): Double = {
    val mask = keys.length - 1
    var i = WQMap.slot(k, mask)
    while (keys(i) != k) i = (i + 1) & mask // k is present: no Empty check
    ws(i)
  }

  def foreach(f: (Long, Double) => Unit): Unit = {
    var i = 0
    while (i < keys.length) {
      if (keys(i) != WQMap.Empty) f(keys(i), ws(i))
      i += 1
    }
  }

  /** The distinct keys, ascending: value order. */
  def sortedKeys(): Array[Long] = {
    val out = new Array[Long](size)
    var n = 0
    foreach((k, _) => { out(n) = k; n += 1 })
    java.util.Arrays.sort(out)
    out
  }

  private def grow(): Unit = {
    val (oldKeys, oldWs) = (keys, ws)
    keys = WQMap.emptyKeys(oldKeys.length * 2)
    ws = new Array[Double](oldKeys.length * 2)
    size = 0
    var i = 0
    while (i < oldKeys.length) {
      if (oldKeys(i) != WQMap.Empty) add(oldKeys(i), oldWs(i))
      i += 1
    }
  }
}

object WQMap {
  /** A NaN bit pattern above every non-NaN [[sortKey]]. */
  val Empty: Long = Long.MaxValue

  /** The double's bits with the magnitude flipped when negative, so signed
    * `Long` order equals `java.lang.Double.compare` order. */
  def sortKey(v: Double): Long = flip(java.lang.Double.doubleToRawLongBits(v))
  def valueOf(k: Long): Double = java.lang.Double.longBitsToDouble(flip(k))
  private def flip(b: Long): Long = b ^ ((b >> 63) & Long.MaxValue) // involution

  /** murmur3 fmix64: integral doubles leave the low mantissa bits zero. */
  private def slot(k: Long, mask: Int): Int = {
    var h = k
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h.toInt & mask
  }

  private def emptyKeys(cap: Int): Array[Long] = {
    val a = new Array[Long](cap)
    java.util.Arrays.fill(a, Empty)
    a
  }

  /** An empty map sized to hold `n` entries without growing. */
  def ofSize(n: Int): WQMap = {
    var cap = 16
    while (n * 4L > cap * 3L) cap *= 2
    new WQMap(emptyKeys(cap), new Array[Double](cap), 0)
  }
}

/** Weighted quantile aggregate replicating the reference estimator
  * `weighted_quantiles` (/root/reference/bm_breakdown.py:124-177) literally:
  *
  *   - drop pairs where value or weight is null/NaN;
  *   - sort by value; `ecdf = cumsum(w_sorted)`;
  *   - position `p = q * (Σw − 1)`;
  *   - `lo = searchsorted(ecdf, p, right)`, `hi = searchsorted(ecdf, p+1,
  *     right)` clamped to n−1;
  *   - linear interpolation `v[lo]·(1−frac) + v[hi]·frac`, `frac = p −
  *     ⌊p⌋`.
  *
  * This is intentionally NOT a textbook estimator (SURVEY.md §7.4 item 1).
  *
  * STATE: one (value → summed weight) map per group ([[WQMap]]) — O(distinct
  * values), the shape of Spark's own `Percentile` (value → count); only the
  * map's entries are serialized, and `eval` sorts the distinct values as
  * primitive longs. Collapsing equal values leaves the result unchanged
  * when every weight is ≥ 0: the ecdf is then non-decreasing, its value at
  * the END of each run of equal values is the same cumsum, and the first
  * index with `ecdf > key` falls in the same run, so `searchsorted(right)`
  * picks the same value (zero-weight values keep their entry, so the
  * clamp and `p < 0` cases pick the same value too). With a negative
  * weight the reference's binary search runs over a non-monotone ecdf, and
  * a tie whose weights cancel can pick another value (DEVIATIONS.md).
  * Floating point: a value's summed weight accumulates in merge order, as
  * the reference's cumsum already did across equal values (its stable sort
  * kept merge order). When every partial sum is exact in a double
  * (integer or dyadic weights of modest size) the result is bit-identical
  * under any partitioning.
  *
  * `qs` holds one or more quantiles evaluated over the ONE map; the result
  * is `array<double>` in `qs` order (null for a fully-masked group). The
  * [[Breakdown]] fusion reads each q back with `element_at`; the scalar
  * Column API and SQL `weighted_quantile(v, w, q)` wrap a one-q aggregate
  * the same way and return a double. For groups whose distinct count is
  * unbounded see [[ApproxWeightedQuantile]].
  */
case class WeightedQuantile(
    left: Expression,
    right: Expression,
    qs: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[WQMap] with BinaryLike[Expression] {

  override def prettyName: String = "weighted_quantile"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): WQMap = WQMap.ofSize(0)

  override def update(buf: WQMap, input: InternalRow): WQMap = {
    val v = left.eval(input)
    val w = right.eval(input)
    if (v != null && w != null) {
      val vd = v.asInstanceOf[Double]
      val wd = w.asInstanceOf[Double]
      // reference masks NaN in either value or weight (bm_breakdown.py:147)
      if (!vd.isNaN && !wd.isNaN) buf.add(WQMap.sortKey(vd), wd)
    }
    buf
  }

  override def merge(a: WQMap, b: WQMap): WQMap = {
    b.foreach(a.add)
    a
  }

  override def eval(buf: WQMap): Any = {
    val n = buf.size
    if (n == 0) return null // fully-masked early exit (bm_breakdown.py:149-150)
    // sort by value (argsort, bm_breakdown.py:153-155), one entry per value
    val ks = buf.sortedKeys()
    val ecdf = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += buf.weight(ks(i)); ecdf(i) = acc; i += 1 }
    // searchsorted side='right': first index where ecdf[i] > key
    def ssRight(key: Double): Int = {
      var lo = 0; var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ecdf(mid) <= key) lo = mid + 1 else hi = mid
      }
      lo
    }
    new GenericArrayData(qs.map { q =>
      val p = q * (acc - 1.0) // p = q·(Σw − 1) (bm_breakdown.py:161)
      // clamp lo defensively (reference relies on p < Σw for q ∈ [0,1], w ≥ 0)
      val lo = math.min(ssRight(p), n - 1)
      val hi = math.min(ssRight(p + 1.0), n - 1) // clamp (bm_breakdown.py:166)
      val fHi = p - math.floor(p)
      WQMap.valueOf(ks(lo)) * (1.0 - fHi) + WQMap.valueOf(ks(hi)) * fHi
    }.toArray)
  }

  override def serialize(buf: WQMap): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    buf.foreach((k, w) => { bb.putLong(k); bb.putDouble(w) })
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): WQMap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = WQMap.ofSize(n)
    var i = 0
    while (i < n) { m.add(bb.getLong, bb.getDouble); i += 1 }
    m
  }

  override def withNewMutableAggBufferOffset(o: Int): WeightedQuantile =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): WeightedQuantile =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WeightedQuantile =
    copy(left = newLeft, right = newRight)
}

object WeightedQuantile {
  /** Column-level API: `weightedQuantile($"grade", $"w", 0.5)`, a double. */
  def apply(value: Column, weight: Column, q: Double): Column =
    element_at(apply(value, weight, Seq(q)), 1)

  /** Several quantiles from one buffer: `array<double>` in `qs` order. */
  def apply(value: Column, weight: Column, qs: Seq[Double]): Column =
    ExpressionUtils.column(
      WeightedQuantile(
        Cast(ExpressionUtils.expression(value), DoubleType),
        Cast(ExpressionUtils.expression(weight), DoubleType),
        qs).toAggregateExpression())
}
