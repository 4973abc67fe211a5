package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Writes the committed digests of the registry slice:
  * `WriteDigests <out.tsv> <work dir>`. Regenerate only from a commit whose
  * slice passes the DuckDB oracle (README.md, "Registry digests"). */
object WriteDigests {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(Paths.get(args(1)))
    try {
      val lines = RegistrySpatial.computeDigests(spark).map { case (n, d) => s"$n\t$d" }
      Files.write(Paths.get(args(0)), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    } finally spark.stop()
  }
}
