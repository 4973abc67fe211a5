package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema cache for the ANN store directories (r15) — the
  * [[graft.Tables]] discipline applied to the IVF/PQ stores: a bare
  * `spark.read.parquet(store)` infers the schema with a footer-reading
  * job before the real scan, so every serve call (and every bench pass
  * of the store queries) paid a fixed inference job for a schema that
  * never changes — the store is written by our own writers, and an
  * append reuses the write schema by construction. Metadata only;
  * every read still scans the parquet bytes.
  *
  * A writer that Overwrites a store path calls [[invalidate]] on it (the
  * `Pq`/`Ivf` store writers do), so a path rewritten with a different
  * column set in the same JVM is read with the new schema, not the stale
  * one (which would null out new columns and drop others silently). */
object StoreSchemas {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Read a store directory with its cached (first read: inferred)
    * schema — partition columns (`ivf_bkt`) ride the cached schema, so
    * partition pruning is unaffected. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val sch = cache.computeIfAbsent(path,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  /** Forget `path`'s cached schema: its writer is replacing the files. */
  def invalidate(path: String): Unit = cache.remove(path)
}
