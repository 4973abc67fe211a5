package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point. `perfbench/run.py` builds it and passes
  * the arguments through:
  *
  *   --workload reserves_grid|store_roundtrip|registry_spatial
  *   --seed N --seconds S --trace 0|1
  *   --grid full|small      small: the 12k-cell fixture grid (smoke runs)
  *   --corrupt-every K      check every K-th op against a wrong expectation
  *   --home DIR --work DIR  the benchmark's files, its scratch directory
  *
  * The last stdout line is the result object; the line before it holds the
  * sample counts, calibration times and contention flag behind it.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      small: Boolean, corruptEvery: Int, home: Path, work: Path)

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => throw new IllegalArgumentException(s"bad argument: ${a.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", m.getOrElse("grid", "full") == "small",
      m.getOrElse("corrupt-every", "0").toInt,
      Paths.get(m.getOrElse("home", "perfbench")), Paths.get(m.getOrElse("work", ".bench_build")))
  }

  val cpus: Int = Runtime.getRuntime.availableProcessors

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The fixed-work CPU cell of `graft.Bench`'s calibration (hash + sum
    * over 2^30 ids, no exchange), copied so every run carries it. Timed
    * after the warm-up cycle, before and after the measured ops. */
  def calibrate(spark: SparkSession): Double = {
    System.gc() // so garbage the ops left does not land in the cell
    Workload.timed(
      spark.range(1L << 30).selectExpr("sum(xxhash64(id) % 100000)").collect())._2
  }

  /** A run is contended when its closing calibration differs from its
    * opening one by more than this share of the faster of the two. */
  val ContentionRatio = 0.2

  def workload(o: Opts): Workload = {
    def grid = new GridCase(if (o.small) GridCase.Small else GridCase.Full, o.seed)
    o.workload match {
      case "reserves_grid" => new ReservesGrid(grid)
      case "store_roundtrip" => new StoreRoundtrip(grid, o.work, reportsPerWrite = 3)
      case "registry_spatial" => new RegistrySpatial(o.seed,
        RegistrySpatial.readDigests(o.home.resolve("registry_digests.tsv")))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString

  def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    Files.createDirectories(o.work)
    val wl = workload(o)
    // set-up five times: session + inputs; the first counts from JVM start
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session(o.work)
    wl.prepare(spark)
    val setups = ArrayBuffer((System.currentTimeMillis() - jvmStart) / 1e3)
    if (!o.trace) for (_ <- 1 until 5) {
      spark.stop()
      setups += Workload.timed { spark = session(o.work); wl.prepare(spark) }._2
    }
    val ok = try {
      // warm-up: the first run of a plan in a JVM reads slow (code
      // generation, JIT), so one untimed cycle precedes every measurement
      wl.cycle(spark, () => false)
      calibrate(spark) // its own first run reads slow too
      val calBefore = calibrate(spark)
      val (line, ok) = if (o.trace) traced(o, spark, wl) else timed(o, spark, wl, setups.toSeq)
      val calAfter = calibrate(spark)
      val contended = math.abs(calAfter - calBefore) >
        ContentionRatio * math.min(calAfter, calBefore)
      println(s"""{"detail": {"workload": "${o.workload}", "seed": ${o.seed}, "cpus": $cpus, """ +
        s""""calibration_s": [${num(calBefore)}, ${num(calAfter)}], "contended": $contended, """ +
        s"""${line._1}}}""")
      println(line._2)
      ok
    } finally {
      wl.cleanup()
      spark.stop()
    }
    if (!ok) sys.exit(1)
  }

  /** Untraced: cycles until the deadline; end-to-end metrics. Returns the
    * detail fields and the result line, and whether a metric exists. */
  def timed(o: Opts, spark: SparkSession, wl: Workload, setups: Seq[Double])
      : ((String, String), Boolean) = {
    var n = 0
    val corrupt = () => { n += 1; o.corruptEvery > 0 && n % o.corruptEvery == 0 }
    val ops = ArrayBuffer.empty[Op]
    val cycles = ArrayBuffer.empty[Double] // fully correct cycles
    val durations = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val deadline = t0 + o.seconds * 1000000000L
    // stop when the next cycle would more likely end after the deadline
    while (durations.isEmpty ||
        System.nanoTime() + median(durations.toSeq) * 0.5e9 < deadline) {
      val (cy, dt) = Workload.timed(wl.cycle(spark, corrupt))
      ops ++= cy
      durations += dt
      if (cy.forall(_.ok)) cycles += dt
    }
    val failed = ops.count(!_.ok)
    val metrics = ("setup_s", median(setups), "s") +: wl.metrics(ops.toSeq, cycles.toSeq)
    val kinds = ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      s""""$k": {"n": ${os.size}, "failed": ${os.count(!_.ok)}, """ +
        s""""p50_s": ${num(median(os.filter(_.ok).map(_.seconds).toSeq))}, """ +
        s""""seconds": [${os.filter(_.ok).map(o => num(o.seconds)).mkString(", ")}], """ +
        s""""failed_seconds": [${os.filterNot(_.ok).map(o => num(o.seconds)).mkString(", ")}]}"""
    }
    val detail = s""""seconds_measured": ${(System.nanoTime() - t0) / 1e9}, """ +
      s""""ops": {${kinds.mkString(", ")}}, "cycles": {"n": ${cycles.size}, """ +
      s""""p50_s": ${num(median(cycles.toSeq))}}, "peak_rss_mb": ${peakRssMb()}, """ +
      s""""setup_samples_s": [${setups.map(num).mkString(", ")}]"""
    val result = s"""{"correct": ${failed == 0}, "attempted": ${ops.size}, """ +
      s""""failed": $failed, "metrics": ${metricsJson(metrics)}}"""
    ((detail, result), metrics.forall(m => !m._2.isNaN && !m._2.isInfinite))
  }

  /** Traced: layer-split cycles until the deadline; per-layer medians. */
  def traced(o: Opts, spark: SparkSession, wl: Workload): ((String, String), Boolean) = {
    val t = new Tracer(spark)
    t.attach()
    val cycles = ArrayBuffer.empty[Map[String, Double]]
    val durations = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val deadline = t0 + o.seconds * 1000000000L
    while (cycles.isEmpty ||
        System.nanoTime() + median(durations.toSeq) * 0.5e9 < deadline) {
      val (m, dt) = Workload.timed(wl.tracedCycle(spark, t))
      cycles += m; durations += dt
    }
    t.detach()
    t.write(o.work.resolve("traces").resolve(s"${o.workload}-${o.seed}.jsonl"))
    val metrics = wl.perLayer.map { case (k, u) =>
      (k, median(cycles.toSeq.map(_.getOrElse(k, 0.0))), u)
    }
    val detail = s""""traced_cycles": ${cycles.size}, "spans": ${t.spans.size}"""
    val result = s"""{"correct": true, "attempted": ${cycles.size}, "failed": 0, """ +
      s""""metrics": ${metricsJson(metrics)}}"""
    ((detail, result), true)
  }
}
