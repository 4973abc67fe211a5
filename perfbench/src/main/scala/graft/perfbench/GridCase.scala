package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryShared
import graft.model.{GridSchema, TriMesh}
import graft.operators.GridOps

/** The generated block model and fixtures shared by the two grid workloads,
  * and the report they must produce.
  *
  * The seed moves the grade formula's offset and shifts every fixture by one
  * sub-cell offset. A shift is accepted only if no cell center lies within
  * 2% of a cell of a box face or a pit footprint edge, so the analytic
  * expectation below never depends on how a kernel breaks a tie on a face.
  */
final class GridCase(val g: GridSchema, seed: Long) {
  private val rng = new scala.util.Random(seed)

  /** Offset of the grade formula `(7i + 13j + 17k + offset) % 97`. The seed
    * moves the offset, not the coefficients: other coefficients reorder the
    * grades each quantile sort sees and moved a report's time by up to 30%
    * between seeds. */
  val offset: Int = rng.nextInt(97)

  val shift: (Double, Double, Double) = {
    def draw() = ((rng.nextDouble() - 0.5) * 0.9 * g.sx,
      (rng.nextDouble() - 0.5) * 0.9 * g.sy, (rng.nextDouble() - 0.5) * 0.9 * g.sz)
    Iterator.continually(draw()).take(10000).find(clearOfCenters)
      .getOrElse(sys.error(s"no face-clear fixture shift for seed $seed"))
  }

  private def moved(m: TriMesh, d: (Double, Double, Double)): TriMesh =
    m.copy(verts = m.verts.grouped(3)
      .flatMap(p => Array(p(0) + d._1, p(1) + d._2, p(2) + d._3)).toArray)

  val regions: Seq[TriMesh] =
    Seq(QueryShared.Region2, QueryShared.Region3).map(moved(_, shift))
  val topo: TriMesh = moved(QueryShared.Topo, shift)
  val pit: TriMesh = moved(QueryShared.Pit, shift)

  /** Face coordinates that must stay off the cell-center lattice. */
  private def clearOfCenters(d: (Double, Double, Double)): Boolean = {
    def clear(f: Double, o: Double, s: Double): Boolean = {
      val u = (f - o) / s - 0.5
      math.abs(u - math.rint(u)) > 0.02
    }
    val boxes = Seq(QueryShared.Region2, QueryShared.Region3, QueryShared.Pit)
      .map(m => moved(m, d).bounds)
    // mine planes must also stay off the cell faces, where a depletion
    // fraction is exactly 0 or 1
    val planes = Seq(QueryShared.Topo, QueryShared.Pit).map(_.verts(2) + d._3)
    boxes.forall { b =>
      clear(b(0), g.ox, g.sx) && clear(b(1), g.ox, g.sx) &&
      clear(b(2), g.oy, g.sy) && clear(b(3), g.oy, g.sy)
    } && boxes.take(2).forall(b => clear(b(4), g.oz, g.sz) && clear(b(5), g.oz, g.sz)) &&
      planes.forall(z => clear(z + g.sz / 2, g.oz, g.sz))
  }

  /** The block model: the grid plus the flagship's variable columns. */
  def blockModel(spark: SparkSession): DataFrame = {
    GridOps.generate(spark, g)
      .withColumn("grade",
        ((col("i") * 7 + col("j") * 13 + col("k") * 17 + offset) % 97).cast("double"))
      .withColumn("lito", element_at(
        array(lit("high"), lit("medium"), lit("low")), (col("i") % 3 + 1).cast("int")))
      .withColumn("density", lit(2.7) + col("k") * 0.01)
  }

  /** Flagged cells and the expected report rows, computed in the benchmark's JVM
    * from the grid formula and the analytic box and plane fixtures. */
  lazy val expected: GridCase.Expected = GridCase.expect(this)
}

object GridCase {
  /** The flagship reserves spec (the `SparkEntry.entry` report). */
  val PlainSpec =
    "lito;grade,mean,density,volume;density,mean,volume;volume,sum;density=mass,sum,volume"
  /** Flagship plus weighted quartiles of grade by density×volume and
    * unweighted p10/p90. */
  val QuantSpec = PlainSpec +
    ";grade,q1,density,volume;grade,q2,density,volume;grade,q3,density,volume" +
    ";grade,p10;grade,p90"

  private val Litos = Array("high", "medium", "low")

  /** 19.2M cells at 0.5 × 0.5 × 2.5 m over the fixtures' footprint. */
  val Full = GridSchema(1000, 2000, 100, 0.5, 0.5, 2.5, 600, 400, 80)
  /** The registry's 12k-cell fixture grid, for smoke runs. */
  val Small = QueryShared.G

  final class Group {
    var gNum, gDen, dNum, dDen, vSum, mass = 0.0
    val hw = new Array[Double](97) // density×volume per grade value
    val hc = new Array[Long](97)   // cells per grade value
  }

  final case class Expected(flagged: Long, rows: Seq[((String, String), Group)])

  def expect(c: GridCase): Expected = {
    val g = c.g
    val boxes = c.regions.map(m => (m.name, m.bounds)).reverse // last wins
    val topoZ = c.topo.verts(2); val tb = c.topo.bounds
    val pitZ = c.pit.verts(2); val pb = c.pit.bounds
    val vol = g.cellVolume
    val groups = scala.collection.mutable.Map.empty[(String, String), Group]
    var flagged = 0L
    def frac(zs: Double, z: Double) =
      math.min(1.0, math.max(0.0, (zs - (z - g.sz / 2)) / g.sz))
    // only the cells inside some region box can reach the report
    val all = c.regions.map(_.bounds)
    def range(lo: Double, hi: Double, o: Double, s: Double, n: Int) =
      math.max(0, math.floor((lo - o) / s).toInt) to
        math.min(n - 1, math.ceil((hi - o) / s).toInt)
    for {
      k <- range(all.map(_(4)).min, all.map(_(5)).max, g.oz, g.sz, g.nz)
      j <- range(all.map(_(2)).min, all.map(_(3)).max, g.oy, g.sy, g.ny)
      i <- range(all.map(_(0)).min, all.map(_(1)).max, g.ox, g.sx, g.nx)
    } {
      val x = g.ox + (i + 0.5) * g.sx
      val y = g.oy + (j + 0.5) * g.sy
      val z = g.oz + (k + 0.5) * g.sz
      boxes.find { case (_, bb) =>
        x > bb(0) && x < bb(1) && y > bb(2) && y < bb(3) && z > bb(4) && z < bb(5)
      }.foreach { case (region, _) =>
        flagged += 1
        val lito = Litos(i % 3)
        val grade = ((i * 7 + j * 13 + k * 17 + c.offset) % 97).toDouble
        val density = 2.7 + k * 0.01
        val inTopo = x >= tb(0) && x <= tb(1) && y >= tb(2) && y <= tb(3)
        val inPit = x >= pb(0) && x <= pb(1) && y >= pb(2) && y <= pb(3)
        val mine =
          if (!inTopo) 0.0 // a null mine weight contributes nothing
          else frac(topoZ, z) * (if (inPit) 1.0 - frac(pitZ, z) else 1.0)
        val grp = groups.getOrElseUpdate((region, lito), new Group)
        val w3 = density * vol * mine
        grp.gNum += grade * w3; grp.gDen += w3
        grp.dNum += density * (vol * mine); grp.dDen += vol * mine
        grp.vSum += vol * mine; grp.mass += density * (vol * mine)
        val gi = grade.toInt
        grp.hw(gi) += density * vol; grp.hc(gi) += 1
      }
    }
    Expected(flagged, groups.toSeq.sortBy(_._1))
  }

  /** The reference weighted quantile (agg.WeightedQuantile) from a
    * histogram: all candidate answers when `p` sits within `eps` of a
    * cumulative-weight boundary. */
  def weightedQuantiles(hw: Array[Double], q: Double): Seq[Double] = {
    val vals = hw.indices.filter(hw(_) > 0)
    val cum = vals.scanLeft(0.0)(_ + hw(_)).tail
    val total = cum.last
    val p = q * (total - 1.0)
    val f = p - math.floor(p)
    def at(key: Double): Double = {
      val idx = cum.indexWhere(_ > key)
      vals(if (idx < 0) vals.length - 1 else idx).toDouble
    }
    val eps = 1e-3
    for (dl <- Seq(-eps, 0.0, eps); dh <- Seq(-eps, 0.0, eps))
      yield at(p + dl) * (1.0 - f) + at(p + 1.0 + dh) * f
  }

  /** Spark's exact `percentile` (linear interpolation between ranks) from a
    * histogram of counts. */
  def percentile(hc: Array[Long], q: Double): Double = {
    val n = hc.sum
    val pos = q * (n - 1)
    def rank(r: Long): Double = {
      var acc = 0L; var v = 0
      while (acc + hc(v) <= r) { acc += hc(v); v += 1 }
      v.toDouble
    }
    val lo = rank(math.floor(pos).toLong); val hi = rank(math.ceil(pos).toLong)
    lo + (pos - math.floor(pos)) * (hi - lo)
  }

  private def close(got: Any, want: Double): Boolean = got match {
    case d: Double =>
      math.abs(d - want) <= 1e-9 * math.max(1.0, math.abs(want))
    case _ => false
  }

  /** Whether report rows equal the expectation; `quantiles` selects the
    * QuantSpec columns too. Null where the weighted denominator is 0. A
    * `corrupt` expectation adds 1 to every expected mass. */
  def matches(rows: Array[Row], e: Expected, quantiles: Boolean,
      corrupt: Boolean): Boolean = {
    val dMass = if (corrupt) 1.0 else 0.0
    def mean(num: Double, den: Double, got: Any) =
      if (den == 0.0) got == null else close(got, num / den)
    rows.length == e.rows.length && rows.zip(e.rows).forall { case (r, ((rg, li), x)) =>
      r.getAs[String]("region") == rg && r.getAs[String]("lito") == li &&
      mean(x.gNum, x.gDen, r.getAs[Any]("grade mean")) &&
      mean(x.dNum, x.dDen, r.getAs[Any]("density mean")) &&
      close(r.getAs[Any]("volume sum"), x.vSum) &&
      close(r.getAs[Any]("mass"), x.mass + dMass) &&
      (!quantiles || {
        Seq(0.25, 0.5, 0.75).zip(Seq("grade q1", "grade q2", "grade q3")).forall {
          case (q, name) =>
            val got = r.getAs[Double](name)
            weightedQuantiles(x.hw, q).exists(w => math.abs(got - w) <= 1e-3)
        } &&
        close(r.getAs[Any]("grade p10"), percentile(x.hc, 0.1)) &&
        close(r.getAs[Any]("grade p90"), percentile(x.hc, 0.9))
      })
    }
  }
}
