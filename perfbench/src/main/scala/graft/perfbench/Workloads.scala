package graft.perfbench

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.{Breakdown, BreakdownSpec}
import graft.operators.{FlagRegions, GridOps, MineDepletion}
import graft.pipeline.Reserves
import graft.sources.BlockModelStore

/** One timed call and whether its output checked out. */
final case class Op(kind: String, seconds: Double, ok: Boolean)

/** A workload runs in cycles. Untraced, a cycle is a fixed sequence of
  * timed, checked ops. Traced, it is the same work split into one span per
  * layer call, and returns that cycle's per-layer values. */
trait Workload {
  /** End-to-end metrics besides `setup_s`, from the run's ops and the
    * durations of its fully correct cycles. */
  def metrics(ops: Seq[Op], cycles: Seq[Double]): Seq[(String, Double, String)]
  /** Per-layer metrics a traced run prints, with units. */
  def perLayer: Seq[(String, String)] = GridLayers.Metrics
  /** Builds the inputs on a fresh session; timed as set-up. */
  def prepare(spark: SparkSession): Unit
  /** Runs one cycle. `corrupt()` is asked once per checked op and says
    * whether to check it against a deliberately wrong expectation. */
  def cycle(spark: SparkSession, corrupt: () => Boolean): Seq[Op]
  def tracedCycle(spark: SparkSession, t: Tracer): Map[String, Double]
  def cleanup(): Unit = ()
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Times `body` and checks its output; a throw or a failed check is a
    * failed op. */
  def op[T](kind: String)(body: => T)(check: T => Boolean): Op = {
    val t0 = System.nanoTime()
    try {
      val out = body
      val dt = (System.nanoTime() - t0) / 1e9
      val ok = check(out)
      if (!ok) System.err.println(s"[perfbench] $kind: wrong output")
      Op(kind, dt, ok)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: $e")
        Op(kind, (System.nanoTime() - t0) / 1e9, ok = false)
    }
  }

  /** Evaluates a plan prefix into one row: sums over the six block-model
    * columns a report reads, plus `extra`. The sink is a few additions per
    * row, so prefix differences measure the layers, not the sink. */
  def sink(df: DataFrame, extra: org.apache.spark.sql.Column*): Unit =
    df.agg(sum(col("x") + col("y") + col("z") + col("grade") + col("density")),
      (sum(length(col("lito"))) +: extra): _*).collect()

  /** The spec a reserves report aggregates with (`Reserves.run`'s rewrite). */
  def reservesSpec(spec: String): BreakdownSpec.Spec =
    BreakdownSpec.addRegion(BreakdownSpec.addWeight(BreakdownSpec.parse(spec), "mine"))
}

import Workload._

/** The end-to-end metrics of the grid workloads: median report latency and
  * grid cells processed per second of op time (writes included). */
trait GridMetrics extends Workload {
  def cells: Long
  def metrics(ops: Seq[Op], cycles: Seq[Double]): Seq[(String, Double, String)] = {
    val good = ops.filter(_.ok)
    Seq(
      ("op_p50_s", Main.median(good.filter(_.kind == "report").map(_.seconds)), "s"),
      ("cells_per_s", cells * good.size / good.map(_.seconds).sum, "cells/s"))
  }
}

/** `pipeline.Reserves.run` over the generated 19.2M-cell grid: one op is
  * one report with the flagship columns plus grade quantiles. */
final class ReservesGrid(c: GridCase) extends GridMetrics {
  private var bm: DataFrame = _
  def cells: Long = c.g.nCells

  def prepare(spark: SparkSession): Unit = bm = c.blockModel(spark)

  private def report(spark: SparkSession): DataFrame =
    Reserves.run(spark, bm, c.g, GridCase.QuantSpec, c.regions, Seq(c.topo), Seq(c.pit))

  def cycle(spark: SparkSession, corrupt: () => Boolean): Seq[Op] = {
    val bad = corrupt()
    Seq(op("report")(report(spark).collect())(
      GridCase.matches(_, c.expected, quantiles = true, corrupt = bad)))
  }

  def tracedCycle(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val layers = GridLayers.split(spark, t, c, bm, fromStore = None)
    // the same report with the listener detached, for the overhead ratio
    t.detach()
    val (_, plain) = timed(report(spark).collect())
    t.attach()
    val (rows, opId) = t.span("pipeline.reserves")(report(spark).collect())
    require(GridCase.matches(rows, c.expected, quantiles = true, corrupt = false),
      "traced report differs from the expectation")
    layers ++ GridLayers.spark(t, opId) ++ Map(
      "pipeline.reserves_s" -> t.seconds(opId),
      "trace.overhead_frac" -> (t.seconds(opId) / plain - 1.0),
      "trace.self_sum_frac" -> (layers("self_sum_s") / t.seconds(opId) - 1.0))
  }
}

/** A `BlockModelStore` round trip: one op writes the grid to a z-slab
  * partitioned Parquet store; the next ops read reports back from it. */
final class StoreRoundtrip(c: GridCase, dir: Path, reportsPerWrite: Int) extends GridMetrics {
  private var bm: DataFrame = _
  private val path = dir.resolve("store").toString
  def cells: Long = c.g.nCells

  def prepare(spark: SparkSession): Unit = bm = c.blockModel(spark)

  private def report(spark: SparkSession): DataFrame = {
    val flagged = FlagRegions.fromStore(spark, path, c.g, c.regions)
      .filter(col("region") =!= "")
    val mined = MineDepletion(spark, GridOps.cellsVolume(flagged, c.g),
      Seq(c.topo), Seq(c.pit), c.g.sz, cellSizeXY = (c.g.sx, c.g.sy))
    Breakdown.run(mined, reservesSpec(GridCase.PlainSpec))
  }

  def cycle(spark: SparkSession, corrupt: () => Boolean): Seq[Op] = {
    val write = op("write")(BlockModelStore.write(bm, path))(_ => true)
    write +: (1 to reportsPerWrite).map { _ =>
      val bad = corrupt()
      if (!write.ok) Op("report", 0.0, ok = false)
      else op("report")(report(spark).collect())(
        GridCase.matches(_, c.expected, quantiles = false, corrupt = bad))
    }
  }

  def tracedCycle(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val (_, writeId) = t.span("sources.store_write")(BlockModelStore.write(bm, path))
    val onDisk = StoreFiles(path)
    val written = t.counts(writeId).bytesWritten
    require(math.abs(written - onDisk.bytes) <= 0.01 * onDisk.bytes,
      s"task output bytes $written disagree with ${onDisk.bytes} B on disk")
    val layers = GridLayers.split(spark, t, c, bm, fromStore = Some(path))
    t.detach()
    val (_, plain) = timed(report(spark).collect())
    t.attach()
    val (rows, opId) = t.span("store.report")(report(spark).collect())
    require(GridCase.matches(rows, c.expected, quantiles = false, corrupt = false),
      "traced report differs from the expectation")
    // rows the report scanned, against the cells of the slabs a solid reaches
    val read = t.counts(opId).recordsRead
    val hot = StoreFiles.hotCells(c, BlockModelStore.slabCells(path))
    require(read == hot, s"report scanned $read rows, the reachable slabs hold $hot")
    val cycleSpark = GridLayers.spark(t, opId, writeId)
    layers ++ cycleSpark ++ Map(
      "sources.store_write_s" -> (t.seconds(writeId) - layers("operators.grid_s")),
      "sources.store_bytes" -> onDisk.bytes.toDouble,
      "sources.store_files" -> onDisk.files.toDouble,
      "sources.slab_read_frac" -> read.toDouble / c.g.nCells,
      "trace.overhead_frac" -> (t.seconds(opId) / plain - 1.0),
      "trace.self_sum_frac" -> (layers("self_sum_s") / t.seconds(opId) - 1.0))
  }

  override def cleanup(): Unit = StoreFiles.delete(dir.resolve("store"))
}

/** The Parquet part files of a store, counted on disk. */
final case class StoreFiles(files: Int, bytes: Long)

object StoreFiles {
  def apply(path: String): StoreFiles = {
    val parts = Files.walk(java.nio.file.Paths.get(path)).iterator()
    var n = 0; var b = 0L
    while (parts.hasNext) {
      val p = parts.next()
      if (p.getFileName.toString.startsWith("part-") && Files.isRegularFile(p)) {
        n += 1; b += Files.size(p)
      }
    }
    StoreFiles(n, b)
  }

  /** Cells in the slabs `FlagRegions.fromStore` scans for the regions. */
  def hotCells(c: GridCase, slabCells: Int): Long = {
    val g = c.g
    val kLo = math.floor((c.regions.map(_.bounds(4)).min - g.oz) / g.sz).toInt / slabCells
    val kHi = math.floor((c.regions.map(_.bounds(5)).max - g.oz) / g.sz).toInt / slabCells
    val ks = (0 until g.nz).count(k => k / slabCells >= kLo && k / slabCells <= kHi)
    ks.toLong * g.nx * g.ny
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator()
    val paths = scala.collection.mutable.ArrayBuffer.empty[Path]
    while (all.hasNext) paths += all.next()
    paths.reverseIterator.foreach(Files.delete)
  }
}

/** Layer self times of one grid report, isolated by evaluating each prefix
  * of the plan (the grid or the store scan, +region flag, +mine) into a
  * [[Workload.sink]] and differencing, then aggregating a checkpoint of
  * the flagged cells. */
object GridLayers {
  def split(spark: SparkSession, t: Tracer, c: GridCase, bm: DataFrame,
      fromStore: Option[String]): Map[String, Double] = {
    val g = c.g
    val (_, gridId) = t.span("operators.grid")(sink(bm))
    // Both reports flag, filter, then deplete: Catalyst pushes the region
    // filter below the depletion projection, so only flagged cells run the
    // mine kernel. Prefixes follow that order.
    val (baseS, scanS, tested, flaggedDf) = fromStore match {
      case None =>
        (t.seconds(gridId), 0.0, g.nCells,
          FlagRegions(spark, bm, c.regions).filter(col("region") =!= ""))
      case Some(path) =>
        val b = c.regions.map(_.bounds)
        val scan = BlockModelStore.readZRange(spark, path, g,
          b.map(_(4)).min, b.map(_(5)).max)
        val (_, s) = t.span("sources.scan")(sink(scan))
        (t.seconds(s), t.seconds(s), StoreFiles.hotCells(c, BlockModelStore.slabCells(path)),
          FlagRegions.fromStore(spark, path, g, c.regions).filter(col("region") =!= ""))
    }
    val (_, r) = t.span("operators.region")(sink(flaggedDf))
    val flagged = MineDepletion(spark, GridOps.cellsVolume(flaggedDf, g),
      Seq(c.topo), Seq(c.pit), g.sz, cellSizeXY = (g.sx, g.sy))
    val (_, m) = t.span("operators.mine")(sink(flagged, sum(col("mine"))))
    val regionS = t.seconds(r) - baseS
    val mineS = t.seconds(m) - t.seconds(r)
    val pinned = flagged.localCheckpoint(eager = true)
    try {
      val rowsIn = pinned.count()
      require(rowsIn == c.expected.flagged,
        s"breakdown input has $rowsIn rows, the fixtures flag ${c.expected.flagged}")
      val (_, plainId) = t.span("agg.breakdown_plain")(
        Breakdown.run(pinned, reservesSpec(GridCase.PlainSpec)).collect())
      val quant = fromStore.isEmpty
      val (_, quantId) =
        if (quant) t.span("agg.breakdown_quant")(
          Breakdown.run(pinned, reservesSpec(GridCase.QuantSpec)).collect())
        else ((), "")
      val aggId = if (quant) quantId else plainId
      val cells = g.nCells.toDouble
      Map(
        "operators.grid_s" -> t.seconds(gridId),
        "operators.mine_s" -> mineS,
        "operators.region_s" -> regionS,
        "operators.kernel_ns_per_cell" -> (mineS + regionS) / cells * 1e9,
        "operators.flagged_frac" -> rowsIn.toDouble / tested,
        "sources.scan_s" -> scanS,
        "agg.breakdown_plain_s" -> t.seconds(plainId),
        "agg.breakdown_quant_s" -> (if (quant) t.seconds(quantId) else 0.0),
        "agg.rows_in" -> rowsIn.toDouble,
        "agg.shuffle_write_bytes" -> t.counts(aggId).shuffleWrite.toDouble,
        // the report's work: the last prefix plus the aggregation it feeds
        "self_sum_s" -> (baseS + regionS + mineS + t.seconds(aggId)))
    } finally graft.util.Checkpoints.release(pinned)
  }

  /** Spark and tracing metrics every traced workload prints. */
  val SparkMetrics: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.single_task_jobs" -> "count",
    "spark.tasks" -> "count", "spark.widest_stage_tasks" -> "count",
    "spark.job_s" -> "s", "spark.outside_jobs_s" -> "s",
    "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.gc_s" -> "s", "spark.executor_cpu_s" -> "s",
    "trace.overhead_frac" -> "ratio", "trace.self_sum_frac" -> "ratio")

  /** The per-layer metrics of the grid workloads, in BENCHMARK.json order.
    * A layer the workload never calls reads 0. */
  val Metrics: Seq[(String, String)] = Seq(
    "operators.grid_s" -> "s", "operators.mine_s" -> "s", "operators.region_s" -> "s",
    "operators.kernel_ns_per_cell" -> "ns", "operators.flagged_frac" -> "ratio",
    "agg.breakdown_plain_s" -> "s", "agg.breakdown_quant_s" -> "s",
    "agg.rows_in" -> "count", "agg.shuffle_write_bytes" -> "B",
    "sources.store_write_s" -> "s", "sources.store_bytes" -> "B",
    "sources.store_files" -> "count", "sources.scan_s" -> "s",
    "sources.slab_read_frac" -> "ratio",
    "pipeline.reserves_s" -> "s") ++ SparkMetrics

  /** Spark counters of the given op spans, summed. */
  def spark(t: Tracer, ids: String*): Map[String, Double] = {
    val c = new Counts
    ids.foreach(id => c += t.counts(id))
    val wall = ids.map(t.seconds).sum
    Map(
      "spark.jobs" -> c.jobs.toDouble,
      "spark.single_task_jobs" -> c.singleTaskJobs.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.widest_stage_tasks" -> c.widestStage.toDouble,
      "spark.job_s" -> c.jobSeconds,
      "spark.outside_jobs_s" -> math.max(0.0, wall - c.jobSeconds),
      "spark.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
      "spark.spill_bytes" -> c.spill.toDouble,
      "spark.gc_s" -> c.gcMs / 1e3,
      "spark.executor_cpu_s" -> c.cpuNs / 1e9)
  }
}
