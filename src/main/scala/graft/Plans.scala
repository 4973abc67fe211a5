package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Optimization-round tooling: dump `.explain("formatted")` for declared
  * queries to text files, so plan claims (Exchange counts, join strategy,
  * PushedFilters/ReadSchema) are checkable without running Spark.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> <tag> [nameSubstr,...]
  * Writes <outDir>/<query>_<tag>.txt per selected query. Not part of the
  * driver contract; changes nothing about what queries compute.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, tag) = (args(0), args(1), args(2))
    val only: String => Boolean =
      if (args.length > 3) { val pats = args(3).split(',').toSeq
        name => pats.exists(name.contains)
      } else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only(name)) {
        // the Verify delta-unpersist discipline (ADVICE r14): building a
        // plan still executes the query body's eager pins
        val sc = spark.sparkContext
        val before = sc.getPersistentRDDs.keySet.toSet
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
          System.err.println(s"[plans] wrote $name")
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[plans] $name failed: ${e.getMessage}")
        }
        try (sc.getPersistentRDDs.keySet.toSet -- before)
          .foreach(id => sc.getPersistentRDDs.get(id)
            .foreach(_.unpersist(blocking = false)))
        catch { case scala.util.control.NonFatal(e) =>
          // a pin left resident skews every later query: say so
          System.err.println(s"[plans] $name: unpersist failed: $e")
        }
      }
    }
    spark.stop()
  }
}
