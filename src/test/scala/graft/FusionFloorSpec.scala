package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Engine
import graft.embedding.OfflineEmbedder
import graft.search.FusionFloor

/** The fusion floor under maintenance (VERDICT r14 task 8): the gated-
  * fusion confidence floor is a corpus-calibrated write-time artifact,
  * so a reingest that changes the corpus must refresh it and a serve
  * from a stale floor must hard-error — the ivf_q_hash freshness
  * contract applied to a scalar sidecar.
  */
class FusionFloorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("fusion-floor")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    graft.ingest.TableSwap.rmTreeAt(dir.toString)
  }

  private def writeDoc(name: String, text: String): String = {
    val p = Paths.get(dir.toString, name)
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  private def ingestTables(td: String, files: List[String],
      engine: Engine): Unit = {
    val r = engine.ingest(Cli.readDocFiles(spark, files))
    import graft.ingest.IngestPipeline.writeTable
    writeTable(r.documents.toDF(), s"$td/documents", key = "id")
    writeTable(r.concepts.toDF(), s"$td/concepts")
    writeTable(r.fragments.toDF(), s"$td/fragments")
    writeTable(r.parents.toDF(), s"$td/parents")
    writeTable(r.embeddings.toDF(), s"$td/embeddings")
    r.release()
  }

  test("reingest refreshes the floor sidecar; a stale floor refuses to " +
      "serve; the fresh floor serves") {
    val engine = new Engine(spark, new OfflineEmbedder(64))
    val td = s"$dir/tables"
    val fa = writeDoc("a.txt",
      "alpha document about spark shuffles and partition pruning basics")
    val fb = writeDoc("b.txt",
      "bravo document about vector search recall and index maintenance")
    ingestTables(td, List(fa, fb), engine)

    // calibrate (the fusion-calibrate verb's body) and pin round-trip
    val floorPath = s"$td/fusion_floor.txt"
    val a0 = FusionFloor.calibrate(
      spark.read.parquet(s"$td/fragments"), "id", "content",
      tableDir = Some(s"$td/fragments"))
    FusionFloor.save(a0, floorPath)
    assert(FusionFloor.load(floorPath) == a0, "sidecar must round-trip")
    assert(a0.corpusFp == FusionFloor.currentFp(
      spark.read.parquet(s"$td/fragments"), "id", "content"))
    // the stamped freshness witness is the metadata fingerprint — the
    // serving-time check is a directory listing, never a corpus scan
    assert(a0.tableFp == FusionFloor.tableFingerprint(s"$td/fragments"))

    // a fresh floor serves: gate facts + hits come back
    val r0 = Cli.hybridSearchCommand(spark, td, "vector search recall", 5)
    assert(r0.floor == a0.floor)
    assert(r0.hits.nonEmpty)
    // the query overlaps the corpus strongly → the gate fuses, and the
    // lexical channel actually ranked the overlapping fragment
    assert(r0.conf > 0.0)

    // reingest a changed document: the corpus fingerprint moves and the
    // fusion_floor step recalibrates the sidecar in the same batch
    Files.write(Paths.get(fb),
      ("bravo document rewritten with entirely different words about " +
        "streaming watermarks and state stores").getBytes(
        StandardCharsets.UTF_8))
    Cli.reingestCommand(spark, engine, td, List(fb))
    val a1 = FusionFloor.load(floorPath)
    assert(a1.corpusFp != a0.corpusFp,
      "corpus changed — the fingerprint must move")
    assert(a1.corpusFp == FusionFloor.currentFp(
      spark.read.parquet(s"$td/fragments"), "id", "content"),
      "reingest must leave a floor calibrated on the NEW corpus")

    // post-delta serve reads the fresh floor (no error, new floor value)
    val r1 = Cli.hybridSearchCommand(spark, td, "streaming watermarks", 5)
    assert(r1.floor == a1.floor)
    assert(r1.hits.nonEmpty)

    // a STALE floor (the pre-delta artifact written back — the crash-
    // between-table-swap-and-floor-refresh shape) must refuse to serve
    FusionFloor.save(a0, floorPath)
    val e = intercept[IllegalArgumentException] {
      Cli.hybridSearchCommand(spark, td, "streaming watermarks", 5)
    }
    assert(e.getMessage.contains("STALE"),
      s"expected the staleness refusal, got: ${e.getMessage}")

    // and a missing sidecar is an actionable error, not an NPE
    Files.delete(Paths.get(floorPath))
    val e2 = intercept[IllegalArgumentException] {
      Cli.hybridSearchCommand(spark, td, "anything", 5)
    }
    assert(e2.getMessage.contains("fusion-calibrate"))
  }

  test("reingest without a sidecar stays silent (opt-in artifact, like " +
      "the index step)") {
    val engine = new Engine(spark, new OfflineEmbedder(64))
    val td = s"$dir/tables2"
    val fa = writeDoc("c.txt", "charlie content for the no-sidecar table")
    ingestTables(td, List(fa), engine)
    Files.write(Paths.get(fa),
      "charlie updated content".getBytes(StandardCharsets.UTF_8))
    Cli.reingestCommand(spark, engine, td, List(fa))
    assert(!FusionFloor.exists(s"$td/fusion_floor.txt"),
      "reingest must not conjure a floor nobody calibrated")
  }

  test("gate degrades to dense-only on an out-of-corpus query") {
    val engine = new Engine(spark, new OfflineEmbedder(64))
    val td = s"$dir/tables3"
    val fa = writeDoc("d.txt",
      "delta corpus speaks only of parquet files and row groups")
    ingestTables(td, List(fa), engine)
    val a = FusionFloor.calibrate(
      spark.read.parquet(s"$td/fragments"), "id", "content")
    FusionFloor.save(a, s"$td/fusion_floor.txt")
    // every query term out-of-corpus → idfSum = 0 → conf = 0 < floor →
    // dense-only (wLex = 0), and the fused list is the dense ranking
    val r = Cli.hybridSearchCommand(spark, td, "zzz qqq www", 5)
    assert(r.conf == 0.0)
    assert(r.wLex == 0.0)
    assert(r.hits.nonEmpty)
    assert(r.hits.forall(_._2 == -1L), "dense-only: no lexical ranks")
  }

  test("dense channel serves from a persisted graph index when present " +
      "(flat and routed), identical to the exact scan at exhaustive " +
      "knobs") {
    import org.apache.spark.sql.functions.col
    val engine = new Engine(spark, new OfflineEmbedder(64))
    val td = s"$dir/tables4"
    val fa = writeDoc("e.txt",
      "echo document about spark shuffles and partition pruning together")
    val fb = writeDoc("f.txt",
      "golf document about vector recall and graph index maintenance")
    ingestTables(td, List(fa, fb), engine)
    calibrateAt(td)
    val query = "vector recall"
    val exact = Cli.hybridSearchCommand(spark, td, query, 5)

    // flat graph index: ef(64) >= corpus size here, so the walk is
    // exhaustive and the hybrid result is bit-identical
    val e = spark.read.parquet(s"$td/embeddings")
    graft.search.HnswMaintenance.writeIndex(
      e, s"$td/embeddings_hnsw", numShards = 2,
      docCol = Some("document_id"))
    val viaFlat = Cli.hybridSearchCommand(spark, td, query, 5)
    assert(viaFlat == exact,
      s"flat-index dense channel diverged:\n$viaFlat\nvs\n$exact")

    // hnsw-search's path with a view: every hit carries that view, and a
    // view no fragment has yields no hits
    import graft.search.VectorSearch.{FlatGraph, RoutedGraph, dense}
    val viewOf = e.select("fragment_id", "view").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    viewOf.values.toSeq.distinct.foreach { v =>
      val hits = dense(spark, td, query, 5, 64, Some(v), None, FlatGraph)
      assert(hits.nonEmpty && hits.forall(h => viewOf(h._1) == v),
        s"view=$v walk returned $hits")
    }
    assert(dense(spark, td, query, 5, 64, Some("no-such-view"), None,
      FlatGraph).isEmpty)
    val flatIds = dense(spark, td, query, 5, 64, None, None, FlatGraph)
      .map(_._1)

    // routed graph index takes precedence; probeCells = cells is the
    // full fan-out THROUGH the replica-deduped routed walk -> identical
    val sample = e.select(col("vector")).collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    val router = graft.search.Ivf.train(sample, 2)
    graft.search.HnswMaintenance.writeIndexRouted(
      e.drop("doc_bucket"), s"$td/embeddings_hnsw_routed", router,
      replicas = 1, docCol = Some("document_id"))
    spark.conf.set(
      org.apache.spark.sql.graft.HnswIndexRewrite.ProbeCellsKey, "2")
    try {
      val viaRouted = Cli.hybridSearchCommand(spark, td, query, 5)
      assert(viaRouted == exact,
        s"routed-index dense channel diverged:\n$viaRouted\nvs\n$exact")
    } finally spark.conf.unset(
      org.apache.spark.sql.graft.HnswIndexRewrite.ProbeCellsKey)

    // hnsw-search-routed's path: R >= cells returns the flat walk's ids
    assert(dense(spark, td, query, 5, 64, None, None, RoutedGraph(router.k))
      .map(_._1) == flatIds)
  }

  test("an empty dense artifact is an actionable error naming the verb " +
      "that rebuilds it") {
    val engine = new Engine(spark, new OfflineEmbedder(64))
    val td = s"$dir/tables5"
    ingestTables(td, List(writeDoc("g.txt",
      "hotel document about graph walks over an emptied index")), engine)
    calibrateAt(td)
    val emb = spark.read.parquet(s"$td/embeddings")
    emb.limit(0).write.parquet(s"$td/embeddings_hnsw")
    val e1 = intercept[IllegalArgumentException] {
      Cli.hybridSearchCommand(spark, td, "graph walks", 5)
    }
    assert(e1.getMessage.contains("embeddings_hnsw") &&
      e1.getMessage.contains("hnsw-index"), e1.getMessage)

    // the indexless exact scan over an empty embeddings table likewise
    graft.ingest.TableSwap.rmTreeAt(s"$td/embeddings_hnsw")
    emb.limit(0).write.parquet(s"$td/embeddings_empty")
    graft.ingest.TableSwap.rmTreeAt(s"$td/embeddings")
    Files.move(Paths.get(s"$td/embeddings_empty"),
      Paths.get(s"$td/embeddings"))
    val e2 = intercept[IllegalArgumentException] {
      Cli.hybridSearchCommand(spark, td, "graph walks", 5)
    }
    assert(e2.getMessage.contains("embeddings under") &&
      e2.getMessage.contains("ingest"), e2.getMessage)
  }

  test("a reingest reopens the resident dense slots: the rewritten " +
      "fragment is dense top-1 and a re-viewed fragment follows its new " +
      "view") {
    import org.apache.spark.sql.functions.col
    import graft.search.VectorSearch.{FlatGraph, dense}
    val engine = new Engine(spark, new OfflineEmbedder(64))
    val td = s"$dir/tables_resident"
    val helper = "helper that folds the ledger totals into one balance"
    val fa = writeDoc("ra.md", "# India\n\nindia notes about spark " +
      "shuffles and partition pruning in wide joins\n")
    val fb = writeDoc("rb.md", s"# Juliet\n\njuliet notes about vector " +
      s"recall and graph upkeep\n\n$helper\n")
    val fc = writeDoc("rc.md", "# Kilo\n\nkilo notes about lexical " +
      "postings\n\n```python\ndef kilo_total(rows):\n    return " +
      "sum(rows)\n```\n")
    ingestTables(td, List(fa, fb, fc), engine)
    calibrateAt(td)
    graft.search.HnswMaintenance.writeIndex(
      spark.read.parquet(s"$td/embeddings"), s"$td/embeddings_hnsw",
      numShards = 2, docCol = Some("document_id"))
    val rewrittenQuery = "quokka marsupials basking on warm granite"
    // warm both slots: the resident graph and the code scope's ids
    assert(dense(spark, td, rewrittenQuery, 5, 64, None, None, FlatGraph)
      .nonEmpty)
    assert(dense(spark, td, helper, 10, 64, Some("code"), None, FlatGraph)
      .nonEmpty)

    // one fragment's content changes; another moves into a code fence
    Files.write(Paths.get(fa), s"# India\n\n$rewrittenQuery\n"
      .getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(fb), (s"# Juliet\n\njuliet notes about vector " +
      s"recall and graph upkeep\n\n```python\n$helper\n```\n")
      .getBytes(StandardCharsets.UTF_8))
    Cli.reingestCommand(spark, engine, td, List(fa, fb))

    val emb = spark.read.parquet(s"$td/embeddings")
    def rowWhere(content: String, view: String): (String, String) = {
      val rows = emb.filter(col("content").contains(content) &&
        col("view") === view).select("fragment_id", "content").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(rows.length == 1, s"$content as $view: ${rows.toSeq}")
      rows.head
    }
    val (rewritten, rewrittenContent) = rowWhere("quokka", "text")
    val (reviewed, _) = rowWhere("ledger totals", "code")
    // the offline embedder places a text's own vector first (identity)
    val top = dense(spark, td, rewrittenContent, 5, 64, None, None,
      FlatGraph)
    assert(top.headOption.map(_._1).contains(rewritten),
      s"the rewritten fragment must be dense top-1 after the reingest: $top")
    val asCode = dense(spark, td, helper, 10, 64, Some("code"), None,
      FlatGraph).map(_._1)
    assert(asCode.contains(reviewed),
      s"a code-scoped serve must include the re-viewed fragment: $asCode")
    val asText = dense(spark, td, helper, 10, 64, Some("text"), None,
      FlatGraph).map(_._1)
    assert(asText.nonEmpty && !asText.contains(reviewed),
      s"a text-scoped serve must exclude the re-viewed fragment: $asText")
  }

  private def calibrateAt(td: String): Unit = {
    val a = FusionFloor.calibrate(
      spark.read.parquet(s"$td/fragments"), "id", "content",
      tableDir = Some(s"$td/fragments"))
    FusionFloor.save(a, s"$td/fusion_floor.txt")
  }
}
