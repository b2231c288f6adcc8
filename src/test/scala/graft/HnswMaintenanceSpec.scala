package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.eval.RecallStudy
import graft.search.{Hnsw, HnswMaintenance}

/** Incremental maintenance of the persisted HNSW index
  * ([[graft.search.HnswMaintenance]]). The load-bearing property: after
  * ANY update sequence (insert / replace / delete), `ef = n` search over
  * the maintained index equals the exact scan over the CURRENT content —
  * the graph invariants (spine connectivity, deterministic levels)
  * survive maintenance, so the exactness witness keeps holding. Plus the
  * operational contract: untouched shards stay byte-identical, shard
  * routing matches build-time hash partitioning, and a torn multi-shard
  * update rolls forward from its manifest.
  */
class HnswMaintenanceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("hnsw_maint").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val all = RecallStudy.clusteredVectors(
    n = 600, dim = 12, nClusters = 4, noise = 0.15, seed = 31L)
  private def id(i: Int): String = f"f$i%06d"
  private val base = (0 until 500).map(i => (id(i), all(i)))
  private val extra = (500 until 600).map(i => (id(i), all(i)))
  private val queries = RecallStudy.clusteredVectors(
    n = 5, dim = 12, nClusters = 4, noise = 0.15, seed = 87L)
    .zipWithIndex.map { case (q, i) => (s"q$i", q) }.toSeq

  private def toDf(rows: Seq[(String, Array[Float])]) = {
    val s = spark
    import s.implicits._
    rows.toDF("fragment_id", "vector")
  }

  private def norm(v: Array[Float]): Array[Float] = {
    val s = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (s == 0) v else v.map(x => (x / s).toFloat)
  }

  private def exact(content: Seq[(String, Array[Float])],
      q: Array[Float]): Seq[String] = {
    val qn = norm(q)
    content.map { case (fid, v) =>
      val vn = norm(v)
      var d = 0.0
      var j = 0
      while (j < vn.length) { d += qn(j).toDouble * vn(j); j += 1 }
      (-d, fid)
    }.sorted.take(10).map(_._2)
  }

  /** ef = n witness over the index at `path` vs the given content. */
  private def assertWitness(path: String,
      content: Seq[(String, Array[Float])]): Unit = {
    val hits = Hnsw.searchIndex(spark.read.parquet(path), queries, 10,
        ef = content.size)
      .select("query_id", "fragment_id", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    queries.foreach { case (qid, q) =>
      val got = hits.filter(_._1 == qid).sortBy(_._3).map(_._2).toSeq
      assert(got == exact(content, q), s"witness broken for $qid at $path")
    }
  }

  private def freshIndex(name: String,
      rows: Seq[(String, Array[Float])] = base): String = {
    val path = s"$dir/$name"
    HnswMaintenance.writeIndex(toDf(rows), path, numShards = 4,
      m = 8, efConstruction = 48)
    path
  }

  test("insert-only delta extends shards in place; witness holds over the union") {
    val path = freshIndex("ins")
    val stats = HnswMaintenance.updateIndex(spark, path, toDf(extra))
    assert(stats.rebuiltShards.isEmpty,
      s"insert-only update rebuilt ${stats.rebuiltShards}")
    assert(stats.extendedShards.nonEmpty && stats.incomingRows == 100)
    assertWitness(path, base ++ extra)
  }

  test("replacement rebuilds the id's shard; witness holds over new content") {
    val path = freshIndex("repl")
    val newVec = norm(Array.fill(12)(0.3f))
    val stats = HnswMaintenance.updateIndex(spark, path,
      toDf(Seq((id(7), newVec))))
    assert(stats.rebuiltShards.nonEmpty && stats.affectedShards.size == 1)
    assertWitness(path, base.map { case (f, v) =>
      if (f == id(7)) (f, newVec) else (f, v) })
  }

  test("pure deletion removes the ids; witness holds over the remainder") {
    val path = freshIndex("del")
    val dropped = Seq(id(3), id(250))
    val stats = HnswMaintenance.updateIndex(spark, path,
      toDf(Nil), dropIds = dropped)
    assert(stats.incomingRows == 0 && stats.affectedShards.nonEmpty)
    val remaining = base.filterNot(r => dropped.contains(r._1))
    assertWitness(path, remaining)
    val ids = spark.read.parquet(path).select("fragment_id")
      .collect().map(_.getString(0)).toSet
    assert(dropped.forall(!ids.contains(_)))
  }

  private def shardFiles(path: String): Map[String, Map[String, String]] = {
    val root = new java.io.File(path)
    root.listFiles().filter(_.getName.startsWith("shard_id="))
      .map { d =>
        d.getName -> d.listFiles().filter(_.isFile).map { f =>
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(Files.readAllBytes(f.toPath))
          f.getName -> md.map("%02x".format(_)).mkString
        }.toMap
      }.toMap
  }

  test("untouched shards stay byte-identical through an update") {
    val path = freshIndex("untouched")
    val before = shardFiles(path)
    val stats = HnswMaintenance.updateIndex(spark, path,
      toDf(Seq((id(900), norm(Array.fill(12)(0.5f))))))
    assert(stats.affectedShards.size == 1)
    val after = shardFiles(path)
    val touched = s"shard_id=${stats.affectedShards.head}"
    before.foreach { case (shard, files) =>
      if (shard != touched)
        assert(after(shard) == files, s"$shard was rewritten")
    }
    assert(after(touched) != before(touched))
  }

  test("delta shard routing agrees with build-time hash partitioning") {
    import org.apache.spark.sql.functions._
    val path = freshIndex("routing")
    val idx = spark.read.parquet(path)
    val mismatches = idx.filter(
      col("shard_id") =!= pmod(hash(col("fragment_id")), lit(4))).count()
    assert(mismatches == 0,
      "pmod(hash(id), n) must reproduce repartition's shard placement")
  }

  test("a delta id hashing to a brand-new shard still lands (fresh shard build)") {
    // single-shard index extended with numShards=1 can't show this; use
    // an index whose 4 shards happen to miss one: craft by building from
    // ids that all hash to a strict subset of shards
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val shardOf = (0 until 2000).map(id).toDF("fragment_id")
      .select(col("fragment_id"), pmod(hash(col("fragment_id")), lit(4)).as("s"))
      .as[(String, Int)].collect().toMap
    val subset = (0 until 2000).map(id).filter(f => shardOf(f) != 2).take(300)
      .zipWithIndex.map { case (f, i) => (f, all(i % all.length)) }
    val newcomer = (0 until 2000).map(id).find(f => shardOf(f) == 2).get
    val path = s"$dir/newshard"
    HnswMaintenance.writeIndex(toDf(subset), path, numShards = 4,
      m = 8, efConstruction = 48)
    assert(!Files.exists(Paths.get(s"$path/shard_id=2")))
    val vec = norm(Array.fill(12)(0.9f))
    HnswMaintenance.updateIndex(spark, path, toDf(Seq((newcomer, vec))))
    assertWitness(path, subset :+ ((newcomer, vec)))
  }

  test("a k-boundary tie breaks on id, not insertion order, after extension") {
    // base holds vector X under a HIGH id; the delta later inserts the
    // SAME vector under a LOW id. Node order (insertion) and id order now
    // disagree for the tied pair; the exact scan tie-breaks on id, so the
    // graph search must return the delta's low id first.
    val s = spark
    import s.implicits._
    val x = norm(Array.tabulate(12)(j => if (j == 0) 1f else 0.1f))
    val baseRows = (0 until 20).map(i =>
      (f"b$i%04d", norm(Array.tabulate(12)(j => ((i * 7 + j) % 5).toFloat + 0.1f)))) :+
      (("z9999", x))
    val path = s"$dir/tiebreak"
    HnswMaintenance.writeIndex(baseRows.toDF("fragment_id", "vector"), path,
      numShards = 1, m = 8, efConstruction = 48)
    HnswMaintenance.updateIndex(spark, path,
      Seq(("a0000", x)).toDF("fragment_id", "vector"))
    val n = baseRows.size + 1
    val hits = Hnsw.searchIndex(spark.read.parquet(path),
        Seq(("q", x)), topK = 2, ef = n)
      .orderBy(org.apache.spark.sql.functions.col("rank"))
      .select("fragment_id").collect().map(_.getString(0)).toSeq
    assert(hits == Seq("a0000", "z9999"),
      s"tied pair must order by id (exact-scan contract), got $hits")
  }

  test("identical update sequences produce identical indexes (determinism)") {
    val a = freshIndex("det_a")
    val b = freshIndex("det_b")
    Seq(a, b).foreach { p =>
      HnswMaintenance.updateIndex(spark, p, toDf(extra.take(50)))
      HnswMaintenance.updateIndex(spark, p, toDf(Nil), dropIds = Seq(id(11)))
    }
    def results(p: String) =
      Hnsw.searchIndex(spark.read.parquet(p), queries, 10, ef = 64)
        .select("query_id", "fragment_id", "similarity", "rank")
        .collect().map(_.toString).sorted.toSeq
    assert(results(a) == results(b))
  }

  test("document cascade: a re-ingested doc's rows are fully replaced, even under new ids") {
    val s = spark
    import s.implicits._
    // two "documents" owning disjoint id ranges
    val docOf: String => String = f => if (f < id(250)) "docA" else "docB"
    val withDocs = base.map { case (f, v) => (f, v, docOf(f)) }
      .toDF("fragment_id", "vector", "document_id")
    val path = s"$dir/cascade"
    HnswMaintenance.writeIndex(withDocs, path, numShards = 4,
      m = 8, efConstruction = 48, docCol = Some("document_id"))
    // docA re-ingests as TWO fragments with brand-new ids
    val newRows = Seq(
      ("g000001", norm(Array.fill(12)(0.2f)), "docA"),
      ("g000002", norm(Array.fill(12)(-0.2f)), "docA"))
    val stats = HnswMaintenance.updateIndexByDoc(spark, path,
      newRows.toDF("fragment_id", "vector", "document_id"))
    assert(stats.incomingRows == 2)
    val byDoc = spark.read.parquet(path)
      .select("fragment_id", "doc_id").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(byDoc.count(_._2 == "docA") == 2, "old docA rows must be gone")
    assert(byDoc.filter(_._2 == "docA").map(_._1).toSet ==
      Set("g000001", "g000002"))
    assert(byDoc.count(_._2 == "docB") == base.count(r => docOf(r._1) == "docB"))
    assertWitness(path,
      base.filter(r => docOf(r._1) == "docB") ++
        newRows.map(r => (r._1, r._2)))
  }

  test("streaming re-ingest maintains the graph index ≡ final content, through a mid-stream crash") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.embedding.OfflineEmbedder
    import graft.ingest.IngestPipeline
    import graft.ingest.IngestPipeline.DocInput
    import graft.streaming.EventStreams
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val embedder = new OfflineEmbedder(8)
    def doc(path: String, marker: String) = DocInput(path,
      s"$marker paragraph with enough characters to form a fragment.", isOcr = false)
    def embOf(docs: DocInput*) = IngestPipeline.embeddings(
      IngestPipeline.fragments(IngestPipeline.process(docs.toSeq.toDS())),
      embedder).toDF()

    val path = s"$dir/hnsw_stream"
    HnswMaintenance.writeIndex(
      embOf(doc("h/a.txt", "alpha"), doc("h/b.txt", "bravo")),
      path, numShards = 2, m = 8, efConstruction = 48,
      docCol = Some("document_id"))

    val mem = MemoryStream[DocInput]
    val query = EventStreams.ingestHnswIndexStream(mem.toDS(), path,
      embedder, s"$dir/hnsw_stream_ckpt")
    try {
      mem.addData(doc("h/a.txt", "alpha-updated"))
      query.processAllAvailable()

      // mid-stream crash: a torn shard swap (live moved aside) left by a
      // killed process — the next micro-batch must heal it before applying
      val someShard = spark.read.parquet(path)
        .select("shard_id").distinct().as[Int].collect().min
      Files.move(Paths.get(path, s"shard_id=$someShard"),
        Paths.get(path, s"shard_id=$someShard.old"))

      mem.addData(doc("h/c.txt", "charlie"))
      query.processAllAvailable()
    } finally query.stop()

    // ≡ final content: same (fragment_id, document_id) rows as a batch
    // re-ingest of the final corpus, and the ef = n witness holds over it
    val finalEmb = embOf(doc("h/a.txt", "alpha-updated"),
      doc("h/b.txt", "bravo"), doc("h/c.txt", "charlie"))
    val expected = finalEmb.select("fragment_id", "document_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val got = spark.read.parquet(path).select("fragment_id", "doc_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == expected)
    val content = finalEmb.select("fragment_id", "vector").collect()
      .map(r => (r.getString(0), r.getSeq[Float](1).toArray)).toSeq
    val hits = Hnsw.searchIndex(spark.read.parquet(path),
        Seq(("q0", content.head._2)), 10, ef = content.size)
      .select("fragment_id").collect().map(_.getString(0)).toSeq
    assert(hits == exact(content, content.head._2).take(hits.size))
  }

  test("versioned stream: in-batch duplicates, late stragglers, replays and " +
      "a torn-swap crash all converge to the latest-version graph; " +
      "ledger stays bounded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.embedding.OfflineEmbedder
    import graft.ingest.IngestPipeline
    import graft.ingest.IngestPipeline.DocInput
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.VersionedDocInput
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val embedder = new OfflineEmbedder(8)
    def doc(path: String, marker: String) = DocInput(path,
      s"$marker paragraph with enough characters to form a fragment.", isOcr = false)
    def vdoc(path: String, marker: String, sec: Long) = VersionedDocInput(path,
      s"$marker paragraph with enough characters to form a fragment.",
      isOcr = false, new java.sql.Timestamp(sec * 1000L))
    def embOf(docs: DocInput*) = IngestPipeline.embeddings(
      IngestPipeline.fragments(IngestPipeline.process(docs.toSeq.toDS())),
      embedder).toDF()

    val path = s"$dir/hnsw_versioned"
    HnswMaintenance.writeIndex(
      embOf(doc("hv/a.txt", "alpha"), doc("hv/b.txt", "bravo")),
      path, numShards = 2, m = 8, efConstruction = 48,
      docCol = Some("document_id"))

    def idsOf(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
      df.select("fragment_id", "doc_id")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    def wantOf(docs: DocInput*): Set[(String, String)] =
      embOf(docs: _*).select("fragment_id", "document_id")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet

    val mem = MemoryStream[VersionedDocInput]
    val query = EventStreams.ingestHnswIndexStreamVersioned(mem.toDS(),
      path, embedder, s"$dir/hnsw_versioned_ckpt", latenessSec = 600L)
    try {
      // batch 1: TWO versions of a in one batch — only the latest (3000s)
      // may land; naive cascade-replace would keep both versions' rows
      mem.addData(vdoc("hv/a.txt", "alpha-vtwo", 2000L),
        vdoc("hv/a.txt", "alpha-vthree", 3000L))
      query.processAllAvailable()
      assert(idsOf(spark.read.parquet(path)) ==
        wantOf(doc("hv/a.txt", "alpha-vthree"), doc("hv/b.txt", "bravo")),
        "in-batch duplicate versions must resolve to the latest only")

      // mid-stream crash: a torn shard swap left by a killed process —
      // the next micro-batch's updateIndexByDoc must heal it first
      val someShard = spark.read.parquet(path)
        .select("shard_id").distinct().as[Int].collect().min
      Files.move(Paths.get(path, s"shard_id=$someShard"),
        Paths.get(path, s"shard_id=$someShard.old"))

      // batch 2: a LATE OLD version of a (2000s < applied 3000s — must
      // not clobber) + a genuinely new doc c at 3700s (advances the
      // low-water mark to 3100s, past a's applied 3000s)
      mem.addData(vdoc("hv/a.txt", "alpha-vtwo", 2000L),
        vdoc("hv/c.txt", "charlie", 3700L))
      query.processAllAvailable()
      val wantFinal = wantOf(doc("hv/a.txt", "alpha-vthree"),
        doc("hv/b.txt", "bravo"), doc("hv/c.txt", "charlie"))
      assert(idsOf(spark.read.parquet(path)) == wantFinal,
        "late straggler must be dropped; new doc applied; crash healed")

      // the ledger is bounded by the lateness horizon: a's entry (3000s)
      // fell below the 3100s low-water mark and must be pruned
      val ledger = spark.read.parquet(s"$path.versions")
        .as[(String, Long)].collect().toMap
      assert(ledger.keySet == Set("hv/c.txt"),
        s"ledger must prune entries below the low-water mark: $ledger")

      // batch 3: a version of a BELOW the low-water mark (3050s < 3100s,
      // and a is no longer in the ledger) must be refused by the mark,
      // and an exact replay of c (3700s) is an equality no-op
      mem.addData(vdoc("hv/a.txt", "alpha-vlate", 3050L),
        vdoc("hv/c.txt", "charlie", 3700L))
      query.processAllAvailable()
      assert(idsOf(spark.read.parquet(path)) == wantFinal,
        "below-watermark arrivals and replays must be no-ops")
    } finally query.stop()

    // the graph stayed a real index through all of it: the ef = n
    // exactness witness holds over the final maintained corpus
    val finalEmb = embOf(doc("hv/a.txt", "alpha-vthree"),
      doc("hv/b.txt", "bravo"), doc("hv/c.txt", "charlie"))
    val content = finalEmb.select("fragment_id", "vector").collect()
      .map(r => (r.getString(0), r.getSeq[Float](1).toArray)).toSeq
    val hits = Hnsw.searchIndex(spark.read.parquet(path),
        Seq(("q0", content.head._2)), 10, ef = content.size)
      .select("fragment_id").collect().map(_.getString(0)).toSeq
    assert(hits == exact(content, content.head._2).take(hits.size))
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t) }
    } finally s.close()
  }

  test("manifest recovery rolls a torn multi-shard update forward") {
    // run the same update on a twin to obtain the expected post-update
    // state, then freeze a crash on the original: one affected shard
    // swapped, the other still staged, manifest present
    val path = freshIndex("tear")
    val twin = s"$dir/tear_twin"
    copyTree(Paths.get(path), Paths.get(twin))
    val delta = toDf(extra.take(40))
    val stats = HnswMaintenance.updateIndex(spark, twin, delta)
    assert(stats.affectedShards.size >= 2, "need a multi-shard delta")

    val staging = s"$path.update-staging"
    stats.affectedShards.foreach { sId =>
      copyTree(Paths.get(s"$twin/shard_id=$sId"),
        Paths.get(s"$staging/shard_id=$sId"))
    }
    Files.writeString(Paths.get(s"$path.update-manifest"),
      stats.affectedShards.mkString("\n"))
    // crash state: first shard's swap completed, the rest never started
    val done = stats.affectedShards.head
    graft.ingest.TableSwap.rmTreeAt(s"$path/shard_id=$done")
    Files.move(Paths.get(s"$staging/shard_id=$done"),
      Paths.get(s"$path/shard_id=$done"))

    HnswMaintenance.recover(path)
    assert(!Files.exists(Paths.get(s"$path.update-manifest")))
    assert(!Files.exists(Paths.get(staging)))
    assertWitness(path, base ++ extra.take(40))
  }

  // ---- ROUTED-layout maintenance (VERDICT r14 task 2a/2c): the same
  // witness contract over the cluster-routed index — delta vectors
  // route via the FROZEN router sidecar (possibly to different cells
  // than the rows they replace), hot cells re-split their sub-shards,
  // untouched cells stay byte-identical, and the routed streaming twin
  // converges to final content through a torn swap.

  import graft.search.Ivf

  private def freshRoutedIndex(name: String,
      rows: Seq[(String, Array[Float])] = base,
      replicas: Int = 2, target: Long = 12500L)
      : (String, Ivf.Quantizer) = {
    val path = s"$dir/$name"
    val router = Ivf.train(rows.map(_._2).toArray, 4, iters = 5)
    HnswMaintenance.writeIndexRouted(toDf(rows), path, router,
      replicas = replicas, m = 8, efConstruction = 48,
      targetShardRows = target)
    (path, router)
  }

  /** ef = n witness over a (possibly replicated) routed index: full
    * fan-out via probeShards = router.k, whose merge dedupes replicas. */
  private def assertRoutedWitness(path: String, router: Ivf.Quantizer,
      content: Seq[(String, Array[Float])]): Unit = {
    val hits = Hnsw.searchIndexRouted(spark.read.parquet(path), queries,
        10, ef = content.size, router, probeShards = router.k)
      .select("query_id", "fragment_id", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    queries.foreach { case (qid, q) =>
      val got = hits.filter(_._1 == qid).sortBy(_._3).map(_._2).toSeq
      assert(got == exact(content, q), s"witness broken for $qid at $path")
    }
  }

  test("routed insert-only delta extends cells in place; witness holds") {
    val (path, router) = freshRoutedIndex("r_ins")
    val stats = HnswMaintenance.updateIndex(spark, path, toDf(extra))
    assert(stats.rebuiltShards.isEmpty,
      s"insert-only routed update rebuilt ${stats.rebuiltShards}")
    assert(stats.extendedShards.nonEmpty && stats.incomingRows == 100)
    assertRoutedWitness(path, router, base ++ extra)
    // replicas: each inserted id holds exactly 2 rows, in 2 DISTINCT cells
    val rows = spark.read.parquet(path)
      .select("fragment_id", "shard_id").collect()
      .map(r => (r.getString(0), r.getInt(1)))
    extra.foreach { case (fid, _) =>
      val cells = rows.filter(_._1 == fid)
        .map(_._2 / Hnsw.RoutedSubFactor).toSeq
      assert(cells.size == 2 && cells.distinct.size == 2,
        s"$fid replicated into cells $cells")
    }
  }

  test("routed replacement that MOVES cells: old copies leave their " +
      "cells, new ones land where the new vector routes") {
    val (path, router) = freshRoutedIndex("r_move")
    // replace id(7) with a vector from the far side of the space — its
    // routed cells genuinely change, the case hash sharding never has
    val newVec = norm(all(499).map(-_))
    val oldCells = Ivf.nearestLists(all(7), router, 2).toSet
    val newCells = Ivf.nearestLists(newVec, router, 2).toSet
    assume(oldCells != newCells, "test vector must actually move cells")
    val stats = HnswMaintenance.updateIndex(spark, path,
      toDf(Seq((id(7), newVec))))
    assert(stats.rebuiltShards.nonEmpty)
    val content = base.map { case (f, v) =>
      if (f == id(7)) (f, newVec) else (f, v) }
    assertRoutedWitness(path, router, content)
    val cellsNow = spark.read.parquet(path)
      .filter(org.apache.spark.sql.functions.col("fragment_id") === id(7))
      .select("shard_id").collect()
      .map(_.getInt(0) / Hnsw.RoutedSubFactor).toSet
    assert(cellsNow == newCells,
      s"replaced id must live exactly in its new cells: $cellsNow != $newCells")
  }

  test("routed deletion removes every replica copy; witness holds") {
    val (path, router) = freshRoutedIndex("r_del")
    val dropped = Seq(id(3), id(250))
    val stats = HnswMaintenance.updateIndex(spark, path,
      toDf(Nil), dropIds = dropped)
    assert(stats.incomingRows == 0 && stats.affectedShards.nonEmpty)
    assertRoutedWitness(path, router,
      base.filterNot(r => dropped.contains(r._1)))
    val ids = spark.read.parquet(path).select("fragment_id")
      .collect().map(_.getString(0)).toSet
    assert(dropped.forall(!ids.contains(_)))
  }

  test("updateIndexByDoc on a ROUTED index path maintains it through " +
      "the routed placement (the router sidecar declares the layout)") {
    val s = spark
    import s.implicits._
    val docOf: String => String = f => if (f < id(250)) "docA" else "docB"
    val path = s"$dir/r_bydoc"
    val router = Ivf.train(base.map(_._2).toArray, 4, iters = 5)
    HnswMaintenance.writeIndexRouted(
      base.map { case (f, v) => (f, v, docOf(f)) }
        .toDF("fragment_id", "vector", "document_id"),
      path, router, replicas = 2, m = 8, efConstruction = 48,
      docCol = Some("document_id"))
    // docA re-ingests as two fragments with brand-new ids
    val newRows = Seq(("g000001", norm(all(3)), "docA"),
      ("g000002", norm(all(400)), "docA"))
    val stats = HnswMaintenance.updateIndexByDoc(spark, path,
      newRows.toDF("fragment_id", "vector", "document_id"))
    assert(stats.incomingRows == 2 && stats.rebuiltShards.nonEmpty)
    val rows = spark.read.parquet(path)
      .select("fragment_id", "doc_id", "shard_id", "router_hash").collect()
    assert(rows.forall(_.getLong(3) == Ivf.contentHash(router)),
      "every row must keep the router stamp")
    val docA = rows.filter(_.getString(1) == "docA")
    assert(docA.map(_.getString(0)).toSet == Set("g000001", "g000002"),
      "old docA rows must be gone")
    // each new id lives exactly in the 2 cells its vector routes to
    newRows.foreach { case (f, v, _) =>
      val cells = docA.filter(_.getString(0) == f)
        .map(_.getInt(2) / Hnsw.RoutedSubFactor).toSeq
      assert(cells.size == 2 &&
        cells.toSet == Ivf.nearestLists(v, router, 2).toSet,
        s"$f replicated into cells $cells")
    }
    assertRoutedWitness(path, router,
      base.filter(r => docOf(r._1) == "docB") ++
        newRows.map(r => (r._1, r._2)))
  }

  test("a hot routed cell re-splits its sub-shards under the same " +
      "swap protocol; sizes stay bounded; witness holds") {
    // tiny target: base fills each cell near its single-sub budget, then
    // a CONCENTRATED delta (100 slight perturbations of one base vector
    // — a hot-spot ingest) pours into ONE cell and blows its budget
    val (path, router) = freshRoutedIndex("r_hot", replicas = 1,
      target = 150L)
    val before = spark.read.parquet(path).groupBy("shard_id").count()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val hot = extra.zipWithIndex.map { case ((fid, _), i) =>
      (fid, all(0).zipWithIndex.map { case (x, j) =>
        x + (if (j == 0) i * 1e-4f else 0f) })
    }
    val stats = HnswMaintenance.updateIndex(spark, path, toDf(hot))
    assert(stats.rebuiltShards.nonEmpty,
      s"a blown sub-budget must rebuild (re-split), got $stats")
    val after = spark.read.parquet(path).groupBy("shard_id").count()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    // some cell now holds MORE sub-shards than before
    def subsOf(xs: Array[(Int, Long)]): Map[Int, Int] =
      xs.groupBy(_._1 / Hnsw.RoutedSubFactor).view
        .mapValues(_.map(_._1 % Hnsw.RoutedSubFactor).max + 1).toMap
    val (s0, s1) = (subsOf(before), subsOf(after))
    assert(s1.exists { case (c, n) => n > s0.getOrElse(c, 0) },
      s"no cell re-split: $s0 -> $s1")
    // every sub-shard bounded by ~2x target (hash split headroom)
    assert(after.forall(_._2 <= 300L),
      s"sub-shard over 2x target: ${after.mkString(",")}")
    assertRoutedWitness(path, router, base ++ hot)
  }

  test("untouched routed cells stay byte-identical through an update") {
    val (path, router) = freshRoutedIndex("r_untouched", replicas = 1)
    val before = shardFiles(path)
    val delta = Seq((id(900), norm(all(42))))
    val stats = HnswMaintenance.updateIndex(spark, path, toDf(delta))
    val touched = stats.affectedShards.map(s => s"shard_id=$s").toSet
    val after = shardFiles(path)
    before.foreach { case (shard, files) =>
      if (!touched.contains(shard))
        assert(after(shard) == files, s"$shard was rewritten")
    }
    assertRoutedWitness(path, router, base :+ ((id(900), norm(all(42)))))
  }

  test("a retrained router sidecar refuses to maintain the stamped " +
      "adjacency (router_hash guard)") {
    val (path, router) = freshRoutedIndex("r_guard")
    val other = Ivf.train(base.drop(3).map(_._2).toArray, 4, iters = 5)
    assume(Ivf.contentHash(other) != Ivf.contentHash(router))
    Ivf.save(other.copy(replicas = 2), s"$path.router.txt")
    val e = intercept[IllegalArgumentException] {
      HnswMaintenance.updateIndex(spark, path, toDf(extra.take(1)))
    }
    assert(e.getMessage.contains("router_hash mismatch"))
    // heal the sidecar: maintenance works again
    Ivf.save(router.copy(replicas = 2), s"$path.router.txt")
    HnswMaintenance.updateIndex(spark, path, toDf(extra.take(1)))
    assertRoutedWitness(path, router, base :+ extra.head)
  }

  test("routed streaming re-ingest maintains the index ≡ final content, " +
      "through a mid-stream crash") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.embedding.OfflineEmbedder
    import graft.ingest.IngestPipeline
    import graft.ingest.IngestPipeline.DocInput
    import graft.streaming.EventStreams
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val embedder = new OfflineEmbedder(8)
    def doc(path: String, marker: String) = DocInput(path,
      s"$marker paragraph with enough characters to form a fragment.",
      isOcr = false)
    def embOf(docs: DocInput*) = IngestPipeline.embeddings(
      IngestPipeline.fragments(IngestPipeline.process(docs.toSeq.toDS())),
      embedder).toDF()

    val path = s"$dir/r_stream"
    val baseEmb = embOf(doc("r/a.txt", "alpha"), doc("r/b.txt", "bravo"))
    val routerVecs = baseEmb.select("vector").collect()
      .map(_.getSeq[Float](0).toArray)
    val router = Ivf.train(routerVecs, 2, iters = 5)
    HnswMaintenance.writeIndexRouted(baseEmb, path, router, replicas = 2,
      m = 8, efConstruction = 48, docCol = Some("document_id"))

    val mem = MemoryStream[DocInput]
    val query = EventStreams.ingestHnswIndexStream(mem.toDS(), path,
      embedder, s"$dir/r_stream_ckpt")
    try {
      mem.addData(doc("r/a.txt", "alpha-updated"))
      query.processAllAvailable()
      // torn shard swap left by a killed process — healed before apply
      val someShard = spark.read.parquet(path)
        .select("shard_id").distinct().as[Int].collect().min
      Files.move(Paths.get(path, s"shard_id=$someShard"),
        Paths.get(path, s"shard_id=$someShard.old"))
      mem.addData(doc("r/c.txt", "charlie"))
      query.processAllAvailable()
    } finally query.stop()

    val finalEmb = embOf(doc("r/a.txt", "alpha-updated"),
      doc("r/b.txt", "bravo"), doc("r/c.txt", "charlie"))
    val expected = finalEmb.select("fragment_id", "document_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val got = spark.read.parquet(path)
      .select("fragment_id", "doc_id").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == expected)
    // every id is replicated into 2 distinct cells and the witness holds
    val content = finalEmb.select("fragment_id", "vector").collect()
      .map(r => (r.getString(0), r.getSeq[Float](1).toArray)).toSeq
    val hits = Hnsw.searchIndexRouted(spark.read.parquet(path),
        Seq(("q0", content.head._2)), 10, ef = content.size, router,
        probeShards = router.k)
      .orderBy(org.apache.spark.sql.functions.col("rank"))
      .select("fragment_id").collect().map(_.getString(0)).toSeq
    assert(hits == exact(content, content.head._2).take(hits.size))
  }
}
