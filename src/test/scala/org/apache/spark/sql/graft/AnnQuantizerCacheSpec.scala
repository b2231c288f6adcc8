package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.search.Ivf

/** The sidecar quantizer cache must key on (mtime, size), not mtime alone:
  * filesystem mtime granularity can be a full second, so a sidecar
  * rewritten twice within one tick would otherwise keep serving the stale
  * parse (ADVICE finding on AnnProbeRewrite's cache).
  */
class AnnQuantizerCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.GraftSession.builder("local[1]", "1").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) {
      graft.queries.StageCache.release(spark)
      spark.stop()
    }
  }

  test("same-mtime rewrite with different content reloads") {
    val dir = java.nio.file.Files.createTempDirectory("ann-qcache")
    try {
      val p = dir.resolve("quantizer.txt")
      val t = java.nio.file.attribute.FileTime.fromMillis(1700000000000L)
      val q1 = Ivf.Quantizer(2, 4, Array(0f, 0f, 1f, 0f, 10f, 0f, 1f, 0f))
      Ivf.save(q1, p.toString)
      java.nio.file.Files.setLastModifiedTime(p, t)
      val first = AnnProbeRewrite.quantizer(spark, p.toString)
      assert(first.centroidsFlat.sameElements(q1.centroidsFlat))
      // different content, identical mtime (coarse-clock scenario) — the
      // byte size differs, so the cache must reload
      val q2 = Ivf.Quantizer(2, 4, q1.centroidsFlat.map(_ + 1.25f))
      Ivf.save(q2, p.toString)
      java.nio.file.Files.setLastModifiedTime(p, t)
      val second = AnnProbeRewrite.quantizer(spark, p.toString)
      assert(second.centroidsFlat.sameElements(q2.centroidsFlat),
        "stale quantizer served after a same-mtime rewrite")
    } finally graft.ingest.TableSwap.rmTreeAt(dir.toString)
  }
}
