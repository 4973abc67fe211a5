package graft.util

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.SparkTest
import graft.ext.{Ivf, Pq}

/** The store writers invalidate the cached schema of the path they
  * Overwrite: one JVM rewriting one store path with a different column set
  * reads the new columns, not the first write's schema. */
class StoreSchemasSuite extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  import spark.implicits._

  private lazy val vecs = (0 until 40).map { i =>
    val base = if (i % 2 == 0) 10.0 else -10.0
    (i.toLong, Array.tabulate(4)(d => (if (d == 0) base else 0.0) + (i % 5) * 0.1))
  }.toDF("vec_id", "embedding")

  test("rewriting a store path with a different column set reads the new schema") {
    val path = java.nio.file.Files.createTempDirectory("graft_schemas").toString + "/store"
    val cb = Pq.train(vecs, m = 2, ksub = 4, iters = 2)
    val coarse = Ivf.train(vecs, k = 2, iters = 2)
    // flat PQ store: (corpus_id, pq_code); the read caches that schema
    Pq.writeStore(vecs, path, cb)
    assert(StoreSchemas.read(spark, path).columns.toSet == Set("corpus_id", "pq_code"))
    // the same path as an IVFPQ store gains the ivf_bkt partition column
    Pq.writeStore(vecs, path, cb, Some(coarse))
    val pq = StoreSchemas.read(spark, path)
    assert(pq.columns.toSet == Set("corpus_id", "pq_code", "ivf_bkt"))
    assert(pq.filter(col("ivf_bkt").isNull).count() == 0)
    // the same path as an IVF store: (vec_id, embedding, ivf_bkt)
    Ivf.writeStore(vecs, path, coarse)
    val ivf = StoreSchemas.read(spark, path)
    assert(ivf.columns.toSet == Set("vec_id", "embedding", "ivf_bkt"))
    assert(ivf.filter(col("embedding").isNull).count() == 0)
    assert(ivf.count() == 40)
  }
}
