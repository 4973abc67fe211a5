package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Order-independent digest of a query's rows: the row count and the
  * wrapping sum of a 64-bit hash of each row's text. */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = s"$rows\t$hash"
}

object Digest {
  def ofRow(r: Row): Long = {
    val s = r.toString
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x5bd1e995) & 0xffffffffL)
  }

  /** Runs every row of `df` out of the plan, as `graft.Bench`'s `foreach`
    * does, and digests it in the same action. */
  def materialize(df: DataFrame): Digest = {
    val sc = df.sparkSession.sparkContext
    val rows = sc.longAccumulator; val hash = sc.longAccumulator
    df.foreachPartition((it: Iterator[Row]) => {
      var n = 0L; var h = 0L
      it.foreach { r => n += 1; h += ofRow(r) }
      rows.add(n); hash.add(h)
    })
    Digest(rows.value, hash.value)
  }
}

/** Passes over the registry's spatial family: every query of
  * `QueriesSpatial` that reads no table, in an order permuted by the seed.
  * One op is one query, materialized in full and checked against its
  * committed digest; persistent RDDs it leaves behind are released after it,
  * as `graft.Bench` does. */
final class RegistrySpatial(seed: Long, digests: Map[String, Digest]) extends Workload {
  /** Median query latency and pass time; from 100 passing queries on, also
    * the 90th percentile, which then has at least 10 samples beyond it. */
  def metrics(ops: Seq[Op], cycles: Seq[Double]): Seq[(String, Double, String)] = {
    val good = ops.filter(_.ok).map(_.seconds).sorted
    Seq(("op_p50_s", Main.median(good), "s"), ("pass_p50_s", Main.median(cycles), "s")) ++
      (if (good.size < 100) Nil
       else Seq(("op_p90_s", good(math.ceil(good.size * 0.9).toInt - 1), "s")))
  }

  override def perLayer: Seq[(String, String)] =
    Seq("registry.spatial_s" -> "s", "registry.pins" -> "count") ++ GridLayers.SparkMetrics
  private val all = graft.QueriesSpatial.queries
  val order: Seq[String] = new scala.util.Random(seed).shuffle(RegistrySpatial.Names)

  def prepare(spark: SparkSession): Unit = ()

  private def run(spark: SparkSession, name: String): (Digest, Int) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try (Digest.materialize(all(name)(spark, "")), (sc.getPersistentRDDs.keySet -- before).size)
    finally (sc.getPersistentRDDs.keySet -- before)
      .foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }

  def cycle(spark: SparkSession, corrupt: () => Boolean): Seq[Op] = order.map { name =>
    val bad = corrupt()
    Workload.op("query")(run(spark, name)._1) { d =>
      d == (if (bad) digests(name).copy(hash = digests(name).hash + 1) else digests(name))
    }
  }

  def tracedCycle(spark: SparkSession, t: Tracer): Map[String, Double] = {
    t.detach()
    val (_, plain) = Workload.timed(order.foreach(run(spark, _)))
    t.attach()
    var pins = 0
    val (_, passId) = t.span("registry.spatial") {
      order.foreach { name =>
        val ((d, p), _) = t.span(s"registry.$name")(run(spark, name))
        require(d == digests(name), s"$name: digest $d, expected ${digests(name)}")
        pins += p
      }
    }
    GridLayers.spark(t, passId) ++ Map(
      "registry.spatial_s" -> t.seconds(passId),
      "registry.pins" -> pins.toDouble,
      "trace.overhead_frac" -> (t.seconds(passId) / plain - 1.0),
      "trace.self_sum_frac" -> (t.spans.filter(_.parent == passId).map(_.seconds).sum /
        t.seconds(passId) - 1.0))
  }
}

object RegistrySpatial {
  /** The spatial family minus q47, which reads the lineitem table. */
  val Names: Seq[String] = Seq("q11_grid_generate", "q12_flag_regions",
    "q13_mine_deplete", "q14_nearest_cell", "q15_heatmap2d", "q16_elevation",
    "q36_flag2d", "q37_grade_shells", "q38_ijk_key", "q39_rotated_grid",
    "q128_tridist")

  /** `name<TAB>rows<TAB>hash` lines. */
  def readDigests(p: Path): Map[String, Digest] =
    new String(Files.readAllBytes(p), UTF_8).linesIterator.filter(_.nonEmpty).map { l =>
      val Array(name, rows, hash) = l.split("\t")
      name -> Digest(rows.toLong, hash.toLong)
    }.toMap

  /** Digests of the slice, for committing. */
  def computeDigests(spark: SparkSession): Seq[(String, Digest)] =
    Names.map(n => n -> Digest.materialize(graft.QueriesSpatial.queries(n)(spark, "")))
}
