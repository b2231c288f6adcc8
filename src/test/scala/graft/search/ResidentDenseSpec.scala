package graft.search

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{Cli, GraftSession, JobLog}
import graft.api.Engine
import graft.embedding.OfflineEmbedder
import graft.queries.StageCache
import graft.search.VectorSearch.{FlatGraph, RoutedGraph, dense}

/** The dense channel's resident graph ([[VectorSearch.dense]]): a warm
  * walk runs no Spark job on either graph layout, scoped or not; over
  * the size guard the Spark walk returns the same hits; a router retrain
  * reopens the routed slot or fails its guard; and concurrent serves on
  * one session restore the graph once and agree with sequential ones.
  */
class ResidentDenseSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[2]", "2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("resident-dense")
  }

  override def afterAll(): Unit = {
    if (spark != null) {
      StageCache.release(spark)
      spark.stop()
    }
    graft.ingest.TableSwap.rmTreeAt(dir.toString)
  }

  private val topics = Seq("harbor", "orchard", "glacier", "lantern",
    "meadow", "quarry", "canyon", "beacon")

  /** A tables dir of markdown documents with text and code fragments, the
    * fusion floor and a 2-shard flat graph. */
  private def tables(name: String): String = {
    val td = s"$dir/$name"
    val files = topics.zipWithIndex.map { case (t, i) =>
      val p = Paths.get(dir.toString, s"$name-$t.md")
      val next = topics((i + 1) % topics.size)
      Files.write(p, (s"# ${t.capitalize}\n\n$t notes on $next routes " +
        s"and the $t ledger of week $i\n\n```python\n" +
        s"def ${t}_total(rows):\n    return sum(r.$t for r in rows)\n```\n")
        .getBytes(StandardCharsets.UTF_8))
      p.toString
    }.toList
    val r = new Engine(spark, new OfflineEmbedder(64))
      .ingest(Cli.readDocFiles(spark, files))
    import graft.ingest.IngestPipeline.writeTable
    writeTable(r.documents.toDF(), s"$td/documents", key = "id")
    writeTable(r.concepts.toDF(), s"$td/concepts")
    writeTable(r.fragments.toDF(), s"$td/fragments")
    writeTable(r.parents.toDF(), s"$td/parents")
    writeTable(r.embeddings.toDF(), s"$td/embeddings")
    r.release()
    FusionFloor.save(FusionFloor.calibrate(
      spark.read.parquet(s"$td/fragments"), "id", "content",
      tableDir = Some(s"$td/fragments")), s"$td/fusion_floor.txt")
    HnswMaintenance.writeIndex(spark.read.parquet(s"$td/embeddings"),
      s"$td/embeddings_hnsw", numShards = 2, docCol = Some("document_id"))
    td
  }

  private def vectors(td: String): Array[Array[Float]] =
    spark.read.parquet(s"$td/embeddings").select(col("vector")).collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)

  private val query = "lantern ledger routes"

  test("a warm dense leg runs no Spark job, flat or routed, scoped or " +
      "not; over the size guard the Spark walk returns the same hits") {
    val td = tables("zero")
    val router = Ivf.train(vectors(td), 2)
    Hnsw.saveIndexRouted(spark.read.parquet(s"$td/embeddings")
      .drop("doc_bucket"), s"$td/embeddings_hnsw_routed", router,
      replicas = 1)
    for (route <- Seq(FlatGraph, RoutedGraph(router.k));
         view <- Seq(None, Some("code"))) {
      val first = dense(spark, td, query, 10, 64, view, None, route)
      assert(first.nonEmpty, s"$route $view")
      val (again, jobs) = JobLog.during(spark) {
        dense(spark, td, query, 10, 64, view, None, route)
      }
      assert(jobs.isEmpty, s"warm $route view=$view ran $jobs")
      assert(again == first)
    }

    // the guard's inputs: the adjacency's bytes on disk and a heap just
    // below the one it needs
    val (_, bytes) = StageCache.treeStat(s"$td/embeddings_hnsw", "")
    assert(VectorSearch.residentFits(bytes, Runtime.getRuntime.maxMemory))
    val needed = (bytes * VectorSearch.ResidentExpansion * 4).toLong
    assert(VectorSearch.residentFits(bytes, needed))
    assert(!VectorSearch.residentFits(bytes, needed - 1))
    for (view <- Seq(None, Some("code"))) {
      val resident = dense(spark, td, query, 10, 64, view, None, FlatGraph)
      val (walked, jobs) = JobLog.during(spark) {
        dense(spark, td, query, 10, 64, view, None, FlatGraph,
          maxHeap = needed - 1)
      }
      assert(jobs.nonEmpty, "over the guard the walk is a Spark job")
      assert(walked == resident, s"view=$view")
    }
    // the routed walk over the guard: same hits at a pruned probe count
    val pruned = dense(spark, td, query, 10, 64, None, None, RoutedGraph(1))
    assert(dense(spark, td, query, 10, 64, None, None, RoutedGraph(1),
      maxHeap = 0L) == pruned)
  }

  test("a router retrain reopens the routed slot: a torn sidecar fails " +
      "the router_hash guard, a rewrite at the same path serves the new " +
      "graph") {
    val td = tables("router")
    val path = s"$td/embeddings_hnsw_routed"
    val e = spark.read.parquet(s"$td/embeddings").drop("doc_bucket")
    val a = Ivf.train(vectors(td), 3)
    Hnsw.saveIndexRouted(e, path, a, replicas = 1)
    // the hnsw-search-routed verb's call at its defaults (k 10, ef 64, R 6)
    def serve(r: Int = 6) =
      dense(spark, td, query, 10, 64, None, None, RoutedGraph(r))
    assert(serve().nonEmpty)

    // a retrain that lands on the same centroids in another cell order:
    // a sidecar of the same size with another hash
    val order = (0 until a.k).reverse
    val b = a.copy(centroidsFlat = order.flatMap(a.centroid).toArray)
    assume(Ivf.contentHash(b) != Ivf.contentHash(a))
    Hnsw.saveIndexRouted(e, s"$td/retrained", b, replicas = 1)
    val sidecar = Paths.get(s"$path.router.txt")
    val retrained = Paths.get(s"$td/retrained.router.txt")
    assert(Files.size(retrained) == Files.size(sidecar))
    // torn pair: the adjacency was assigned by `a`, the sidecar is `b`'s
    Files.copy(retrained, sidecar, StandardCopyOption.REPLACE_EXISTING)
    val torn = intercept[IllegalArgumentException](serve())
    assert(torn.getMessage.contains("router_hash mismatch") &&
      torn.getMessage.contains("hnsw-index-routed"), torn.getMessage)

    // the full retrain at the same path: adjacency and sidecar from `b`
    Hnsw.saveIndexRouted(e, path, b, replicas = 1)
    val qvec = new OfflineEmbedder(b.dim).embedQuery(query)
    val adj = spark.read.parquet(path)
    val fresh = Hnsw.restoreServingRouted(adj, b)
    Seq(1, 6).foreach { r =>
      val walked = Hnsw.searchIndexRouted(adj, Seq(("q", qvec)), 10, 64, b,
        probeShards = r).orderBy(col("rank"))
        .select(col("fragment_id"), col("similarity")).collect()
        .map(x => (x.getString(0), x.getDouble(1))).toSeq
      assert(serve(r) == fresh.search(qvec, 10, 64, r).toSeq, s"R=$r")
      assert(serve(r) == walked, s"R=$r")
    }
  }

  test("concurrent hybrid serves on one session restore the graph once " +
      "and return the sequential hits") {
    val td = tables("concurrent")
    val queries = Seq(
      (query, None),
      ("glacier quarry week", None),
      ("sum rows total", Some("code")),
      ("meadow beacon notes", Some("text")),
      ("harbor orchard canyon", None))
    def serve(i: Int) =
      Cli.hybridSearchCommand(spark, td, queries(i)._1, 5,
        view = queries(i)._2)
    val sequential = queries.indices.map(serve)
    StageCache.release(spark)

    val (k, m) = (4, 5)
    val ready = new CountDownLatch(k)
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(k)
    val (results, jobs) = JobLog.during(spark) {
      try {
        val futures = (0 until k).map { t =>
          pool.submit(new Callable[Seq[(Int, Cli.HybridResult)]] {
            def call(): Seq[(Int, Cli.HybridResult)] = {
              ready.countDown()
              go.await()
              (0 until m).map { j =>
                val i = (t + j) % queries.size
                (i, serve(i))
              }
            }
          })
        }
        // every thread waits at the gate, so the first serves all meet
        // the empty slots together
        assert(ready.await(30, TimeUnit.SECONDS))
        go.countDown()
        futures.flatMap(_.get(240, TimeUnit.SECONDS))
      } finally pool.shutdownNow()
    }
    assert(results.size == k * m)
    results.foreach { case (i, r) =>
      assert(r == sequential(i), s"query $i diverged under concurrency")
    }
    val restores = jobs.count(_.stages.exists(
      _.startsWith("collect at Hnsw.scala")))
    assert(restores == 1, s"the serving slot restored $restores times")
  }
}
