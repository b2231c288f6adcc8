package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkEntry}

/** The v5–v9 trained-object freshness-skip (VERDICT r14 task 4): a warm
  * pass must LOAD the oracle artifact instead of retraining and
  * rewriting it, the loaded object must be bit-identical to a fresh
  * training run, and a knob change must force a rebuild — never serve
  * mismatched floats.
  */
class TrainedArtifactSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) {
      StageCache.release(spark)
      spark.stop()
    }
  }

  private def maxMtime(d: java.io.File): Long = {
    val own = d.lastModified
    val kids = Option(d.listFiles).map(_.map(maxMtime).max).getOrElse(0L)
    math.max(own, kids)
  }

  test("warm v6 pass loads the centroids; artifact bytes untouched; " +
      "loaded == trained bit-for-bit") {
    val fp = MediaQueries.embCorpusFp(spark, dir)
    val art = new java.io.File(MediaQueries.V6CentroidDir)
    val sidecar = new java.io.File(art, s"_knobs_$fp.txt")
    // cold: force a rebuild (no memo, no sidecar)
    StageCache.release(spark)
    java.nio.file.Files.deleteIfExists(sidecar.toPath)
    val cold = SparkEntry.queries("v6_ivf_recall")(spark, dir)
      .collect().map(_.toSeq)
    assert(sidecar.isFile, "rebuild must record the knob sidecar")
    val part = new java.io.File(art, s"corpus_fp=$fp")
    assert(part.isDirectory)
    val stamp = maxMtime(part)
    // warm ACROSS processes (memo cleared): the query must answer from
    // the LOADED artifact without rewriting a byte of it
    StageCache.release(spark)
    val warm = SparkEntry.queries("v6_ivf_recall")(spark, dir)
      .collect().map(_.toSeq)
    assert(maxMtime(part) == stamp,
      "warm pass rewrote the oracle artifact — the freshness-skip is dead")
    assert(warm.toSeq == cold.toSeq,
      "loaded-centroid pass diverged from the trained pass")
    // the loaded quantizer IS the trained one, bit for bit
    val trained = graft.search.Ivf.train(
      MediaQueries.trainSample(spark, dir), MediaQueries.IvfK,
      iters = MediaQueries.IvfItersFull)
    val loaded = MediaQueries.loadCentroidArtifact(
      spark, MediaQueries.V6CentroidDir, fp)
    assert(loaded.k == trained.k && loaded.dim == trained.dim)
    assert(loaded.centroidsFlat.sameElements(trained.centroidsFlat),
      "parquet round-trip must preserve the exact centroid floats")
  }

  test("a knob drift (stale sidecar) forces a rebuild instead of " +
      "serving mismatched floats") {
    val fp = MediaQueries.embCorpusFp(spark, dir)
    val art = new java.io.File(MediaQueries.V8CodebookDir)
    val sidecar = new java.io.File(art, s"_knobs_$fp.txt")
    // seed the artifact, then fake an old-knobs sidecar
    StageCache.release(spark)
    SparkEntry.queries("v8_sq_recall")(spark, dir).collect()
    java.nio.file.Files.write(sidecar.toPath,
      "sq,levels=128,sample=1024".getBytes("UTF-8"))
    val part = new java.io.File(art, s"corpus_fp=$fp")
    val stamp = maxMtime(part)
    StageCache.release(spark)
    Thread.sleep(1100) // mtime granularity
    SparkEntry.queries("v8_sq_recall")(spark, dir).collect()
    assert(maxMtime(part) > stamp,
      "knob drift must rebuild the artifact, not trust the stale floats")
    assert(new String(java.nio.file.Files.readAllBytes(sidecar.toPath),
      "UTF-8").contains("levels=256"), "rebuild must re-stamp the knobs")
  }

  test("codebook parquet round-trip is bit-exact (PQ layout law)") {
    val fp = MediaQueries.embCorpusFp(spark, dir)
    StageCache.release(spark)
    SparkEntry.queries("v7_pq_recall")(spark, dir).collect()
    val trained = graft.search.Pq.train(
      MediaQueries.trainSample(spark, dir),
      m = MediaQueries.PqM, ksub = MediaQueries.PqKsub)
    val loaded = MediaQueries.loadCodebookArtifact(
      spark, MediaQueries.V7CodebookDir, fp)
    assert(loaded.m == trained.m && loaded.ksub == trained.ksub &&
      loaded.dsub == trained.dsub)
    assert(loaded.flat.sameElements(trained.flat))
  }

  test("the residual codebook artifact (v23) round-trips bit-exact and " +
      "the warm pass loads it") {
    val fp = MediaQueries.embCorpusFp(spark, dir)
    StageCache.release(spark)
    SparkEntry.queries("v23_ivfpq_residual")(spark, dir).collect()
    val rescb = new java.io.File(MediaQueries.V23ResCbDir,
      s"corpus_fp=$fp")
    assert(rescb.isDirectory, "v23 must persist its residual codebook")
    import scala.jdk.CollectionConverters._
    val before = java.nio.file.Files.walk(rescb.toPath).iterator().asScala
      .map(p => p.toString -> p.toFile.lastModified()).toVector
    // warm pass: bit-identical answer, artifact bytes untouched
    StageCache.release(spark)
    val again = SparkEntry.queries("v23_ivfpq_residual")(spark, dir)
      .collect().map(_.toString).toSeq
    val first = SparkEntry.queries("v23_ivfpq_residual")(spark, dir)
      .collect().map(_.toString).toSeq
    assert(again == first)
    before.foreach { case (p, t) =>
      assert(new java.io.File(p).lastModified() == t,
        s"warm v23 pass touched $p")
    }
    // loaded residual codebook ≡ freshly trained, bit for bit
    val q = MediaQueries.loadCentroidArtifact(
      spark, MediaQueries.V9CentroidDir, fp)
    val trained = graft.search.Pq.trainResidual(
      MediaQueries.trainSample(spark, dir), q,
      m = MediaQueries.PqM, ksub = MediaQueries.PqKsub)
    val loaded = MediaQueries.loadCodebookArtifact(
      spark, MediaQueries.V23ResCbDir, fp)
    assert(loaded.flat.sameElements(trained.flat))
  }
}
