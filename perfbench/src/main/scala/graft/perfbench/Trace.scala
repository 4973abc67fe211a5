package graft.perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one job group: jobs, tasks and task metrics. */
final class Counts {
  var jobs, singleTaskJobs, tasks, widestStage = 0L
  var shuffleWrite, spill, gcMs, cpuNs, bytesWritten, recordsRead = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms

  def +=(o: Counts): Unit = {
    jobs += o.jobs; singleTaskJobs += o.singleTaskJobs; tasks += o.tasks
    widestStage = math.max(widestStage, o.widestStage)
    shuffleWrite += o.shuffleWrite; spill += o.spill; gcMs += o.gcMs
    cpuNs += o.cpuNs; bytesWritten += o.bytesWritten; recordsRead += o.recordsRead
    jobIntervals ++= o.jobIntervals
  }

  /** Wall time covered by at least one job, in seconds. */
  def jobSeconds: Double = {
    var covered = 0L; var end = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered / 1e3
  }
}

/** Collects per-job-group counts from the listener bus. Every callback
  * runs on the bus thread; readers call [[Tracer.drain]] first. */
final class JobCounters extends SparkListener {
  private final class Job(val group: String, val start: Long) {
    var tasks = 0L
  }
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val groups = mutable.Map.empty[String, Counts]

  private def counts(g: String) = groups.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new Job(group, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { j =>
      val c = counts(j.group)
      c.jobs += 1
      if (j.tasks == 1) c.singleTaskJobs += 1
      c.jobIntervals += ((j.start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
      val c = counts(j.group)
      c.widestStage = math.max(c.widestStage, e.stageInfo.numTasks.toLong)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      val c = counts(j.group)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.cpuNs += m.executorCpuTime
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** Sum over the named job groups. */
  def sum(names: Set[String]): Counts = synchronized {
    val out = new Counts
    groups.foreach { case (g, c) => if (names(g)) out += c }
    out
  }
}

/** Spans recorded from the benchmark's own calls into each layer. A span
  * runs its body under a job group named after it, so the listener can
  * attribute Spark work to it; spans nest, and a span's self time is its
  * duration minus that of its children. Spans stay in memory until
  * [[write]]. */
final class Tracer(spark: SparkSession) {
  final case class Span(id: String, name: String, parent: String,
      startMs: Long, endMs: Long, seconds: Double)

  private val sc = spark.sparkContext
  val counters = new JobCounters
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[String]
  private var next = 0

  def attach(): Unit = sc.addSparkListener(counters)
  def detach(): Unit = sc.removeSparkListener(counters)

  def drain(): Unit = ListenerDrain(sc)

  /** Runs `body` as span `name`; returns its result and the span id, the
    * job-group prefix of every job it started. */
  def span[T](name: String)(body: => T): (T, String) = {
    next += 1
    val id = s"$name#$next"
    val parent = stack.headOption.getOrElse("")
    stack.push(id)
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    try (body, id)
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      spans += Span(id, name, parent, ms0, System.currentTimeMillis(), dt)
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p, p.takeWhile(_ != '#'), interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Seconds of the span with id `id`. */
  def seconds(id: String): Double = spans.find(_.id == id).map(_.seconds).getOrElse(0.0)

  /** Spark work of span `id` and all spans nested in it. */
  def counts(id: String): Counts = {
    drain()
    def tree(s: String): Seq[String] =
      s +: spans.filter(_.parent == s).toSeq.flatMap(c => tree(c.id))
    counters.sum(tree(id).toSet)
  }

  /** Spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map(s =>
      s"""{"id":"${s.id}","name":"${s.name}","parent":"${s.parent}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
