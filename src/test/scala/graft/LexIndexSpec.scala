package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Engine
import graft.embedding.OfflineEmbedder
import graft.search.{FusionFloor, LexIndex}

/** The inverted lexical postings index: hybrid serving through it must
  * be BIT-FOR-BIT the corpus-scan fallback (same integer tf/df/dl/n
  * facts, same fixed-order literal-idf fold), its reads must be
  * partition-pruned to the query terms' buckets, maintenance must go
  * through delta batches that converge to a full rebuild, and a stale
  * stats sidecar must refuse to serve (the ivf_q_hash contract).
  */
class LexIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("lex-index")
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

  private def calibrate(td: String): Unit = {
    val a = FusionFloor.calibrate(
      spark.read.parquet(s"$td/fragments"), "id", "content",
      tableDir = Some(s"$td/fragments"))
    FusionFloor.save(a, s"$td/fusion_floor.txt")
  }

  test("postings-served hybrid search is bit-for-bit the scan fallback; " +
      "delta maintenance converges to a rebuild; compaction is a no-op " +
      "on results") {
    val engine = new Engine(spark, new OfflineEmbedder(64))
    val td = s"$dir/tables"
    val fa = writeDoc("a.txt",
      "alpha document about spark shuffles and partition pruning basics " +
        "with spark appearing twice for a tf above one")
    val fb = writeDoc("b.txt",
      "bravo document about vector search recall and index maintenance")
    val fc = writeDoc("c.txt",
      "charlie document mentions partition layout and vector recall too")
    ingestTables(td, List(fa, fb, fc), engine)
    calibrate(td)

    val query = "spark partition recall"
    // scan fallback first (no index yet)
    assert(!LexIndex.exists(td))
    val scan0 = Cli.hybridSearchCommand(spark, td, query, 5)

    // build the index; serving flips to the pruned path
    val st = LexIndex.build(spark, td)
    assert(LexIndex.exists(td))
    assert(st.n == spark.read.parquet(s"$td/fragments").count())
    val idx0 = Cli.hybridSearchCommand(spark, td, query, 5)
    assert(idx0 == scan0,
      s"pruned path must be bit-for-bit the scan path:\n$idx0\nvs\n$scan0")

    // an out-of-corpus query degrades identically on both paths
    val oov = Cli.hybridSearchCommand(spark, td, "zzz qqq www", 5)
    assert(oov.conf == 0.0 && oov.wLex == 0.0)

    // maintenance: replace one document through the Cli (delta batch,
    // base untouched), then compare against scan fallback AND a full
    // rebuild on the same post-delta corpus
    Files.write(Paths.get(fb),
      ("bravo rewritten to speak of spark streaming recall watermarks " +
        "and partition state stores").getBytes(StandardCharsets.UTF_8))
    Cli.reingestCommand(spark, engine, td, List(fb))
    assert(Files.isDirectory(Paths.get(LexIndex.deltaPath(td))),
      "reingest must maintain by delta batch, not rebuild")
    val viaDelta = Cli.hybridSearchCommand(spark, td, query, 5)

    // scan fallback on the post-delta corpus: hide the sidecar (a torn
    // build looks exactly like this and must degrade safely, not serve)
    val statsBytes = Files.readAllBytes(Paths.get(LexIndex.statsPath(td)))
    Files.delete(Paths.get(LexIndex.statsPath(td)))
    assert(!LexIndex.exists(td))
    val viaScan = Cli.hybridSearchCommand(spark, td, query, 5)
    Files.write(Paths.get(LexIndex.statsPath(td)), statsBytes)
    assert(viaDelta == viaScan,
      s"delta-maintained index diverged from the corpus:\n$viaDelta" +
        s"\nvs\n$viaScan")

    // compaction folds the batches; results identical, delta dir gone
    val folded = LexIndex.compact(spark, td)
    assert(folded >= 1)
    assert(!Files.exists(Paths.get(LexIndex.deltaPath(td))))
    assert(Cli.hybridSearchCommand(spark, td, query, 5) == viaDelta)

    // and a from-scratch rebuild agrees too (delta ∘ compact ≡ rebuild)
    LexIndex.build(spark, td)
    assert(Cli.hybridSearchCommand(spark, td, query, 5) == viaDelta)

    // metadata scoping (F1/F2 on the hybrid path): filter-before-rank
    // on both channels, pruned ≡ scan under the predicate, and every
    // hit belongs to the view
    val fragsDf = spark.read.parquet(s"$td/fragments")
    val v = fragsDf.select("view").distinct()
      .collect().map(_.getString(0)).sorted.head
    val eligible = fragsDf
      .filter(org.apache.spark.sql.functions.col("view") === v)
      .select("id").collect().map(_.getString(0)).toSet
    val idxV = Cli.hybridSearchCommand(spark, td, query, 5,
      view = Some(v))
    assert(idxV.hits.nonEmpty)
    assert(idxV.hits.forall(h => eligible.contains(h._1)),
      s"scoped hits must all be view=$v")
    val sb2 = Files.readAllBytes(Paths.get(LexIndex.statsPath(td)))
    Files.delete(Paths.get(LexIndex.statsPath(td)))
    val scanV = Cli.hybridSearchCommand(spark, td, query, 5,
      view = Some(v))
    Files.write(Paths.get(LexIndex.statsPath(td)), sb2)
    assert(idxV == scanV,
      s"scoped pruned path diverged from scan:\n$idxV\nvs\n$scanV")

    // lex-search's path: the lexical channel at c = k through the index
    // is the scan route's top-k
    val lexIdx = LexIndex.topC(spark, td, query, 3)._4
    val sb3 = Files.readAllBytes(Paths.get(LexIndex.statsPath(td)))
    Files.delete(Paths.get(LexIndex.statsPath(td)))
    val lexScan = LexIndex.topC(spark, td, query, 3)._4
    Files.write(Paths.get(LexIndex.statsPath(td)), sb3)
    assert(lexIdx.nonEmpty)
    assert(lexIdx == lexScan,
      s"index top-k diverged from the scan route:\n$lexIdx\nvs\n$lexScan")
  }

  test("pruned reads carry the term buckets into PartitionFilters") {
    val engine = new Engine(spark, new OfflineEmbedder(64))
    val td = s"$dir/tables_prune"
    val fa = writeDoc("p.txt",
      "echo corpus with enough words that several buckets materialize " +
        "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ingestTables(td, List(fa), engine)
    LexIndex.build(spark, td)
    val qTerms = Seq("alpha", "beta")
    val df = LexIndex.prunedPostings(spark, td, qTerms)
    val pf = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("term_bucket"),
      s"term buckets must reach PartitionFilters:\n$pf")
    // driver-side bucket = Spark-side bucket (md5 hex agreement)
    import org.apache.spark.sql.functions._
    val sparkBuckets = spark.read.parquet(LexIndex.indexPath(td))
      .filter(col("term").isin(qTerms: _*))
      .select(col("term"), col("term_bucket")).distinct()
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    qTerms.foreach { t =>
      assert(sparkBuckets(t) == LexIndex.bucketOf(t),
        s"bucketOf('$t') must match the written partition value")
    }
  }

  test("maintenance self-limits its delta tail: past MaxBatches the " +
      "segments fold into the base and the merged content is the final " +
      "state") {
    val s = spark
    import s.implicits._
    val td = s"$dir/tables_tail"
    val frags = Seq(("f1", "d1", "alpha beta"), ("f2", "d2", "beta gamma"))
      .toDF("id", "document_id", "content")
    graft.ingest.IngestPipeline.writeTable(frags, s"$td/fragments")
    LexIndex.build(spark, td)
    (0 until 9).foreach { i =>
      val nf = Seq((s"f2_$i", "d2", s"beta gamma round$i"))
        .toDF("id", "document_id", "content")
      LexIndex.appendDelta(spark, td, Seq("d2"), nf)
    }
    // 9 committed batches > MaxBatches(8): the reingest step's call folds
    assert(LexIndex.maybeCompact(spark, td) == 9)
    assert(!Files.exists(Paths.get(LexIndex.deltaPath(td))))
    // and leaves exactly the final state: d2's postings are batch 8's
    val betaIds = LexIndex.prunedPostings(spark, td, Seq("beta"))
      .select("id").collect().map(_.getString(0)).toSet
    assert(betaIds == Set("f1", "f2_8"), s"got $betaIds")
    // under the bound, maintenance leaves the tail alone
    LexIndex.appendDelta(spark, td, Seq("d1"),
      Seq(("f1_n", "d1", "alpha delta")).toDF(
        "id", "document_id", "content"))
    assert(LexIndex.maybeCompact(spark, td) == 0)
    // a torn batch dir (no _SUCCESS — a crashed delta write) is
    // read-invisible but must not block the retry's numbering
    val preDf = LexIndex.dfOf(spark, td, Seq("delta"))
    Files.createDirectories(Paths.get(LexIndex.deltaPath(td), "batch=1"))
    assert(LexIndex.dfOf(spark, td, Seq("delta")) == preDf,
      "an uncommitted batch must be invisible to reads")
    LexIndex.appendDelta(spark, td, Seq("d1"),
      Seq(("f1_n2", "d1", "alpha delta epsilon")).toDF(
        "id", "document_id", "content"))
    assert(LexIndex.dfOf(spark, td, Seq("epsilon"))("epsilon") == 1L,
      "the retry after a torn write must land (numbered past the tomb)")
  }

  test("streaming twin: micro-batches maintain fragments + postings + " +
      "sidecar together; an at-least-once replay converges; serve ≡ " +
      "scan ≡ rebuild over the final corpus") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ingest.IngestPipeline
    import graft.ingest.IngestPipeline.DocInput
    import graft.streaming.EventStreams
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    def doc(path: String, marker: String) = DocInput(path,
      s"$marker paragraph with enough characters to form a fragment.",
      isOcr = false)
    val td = s"$dir/tables_stream"
    // batch bootstrap: fragments table + postings base + fusion floor
    val frags0 = IngestPipeline.fragments(IngestPipeline.process(
      Seq(doc("l/a.txt", "alpha spark"), doc("l/b.txt", "bravo recall"))
        .toDS())).toDF()
    graft.ingest.IngestPipeline.writeTable(frags0, s"$td/fragments")
    // minimal embeddings table for the dense channel
    val engine = new Engine(spark, new OfflineEmbedder(64))
    graft.ingest.IngestPipeline.writeTable(
      engine.ingest(Seq(doc("l/a.txt", "alpha spark"),
        doc("l/b.txt", "bravo recall")).toDS()).embeddings.toDF(),
      s"$td/embeddings")
    LexIndex.build(spark, td)
    calibrate(td)

    val mem = MemoryStream[DocInput]
    val query = EventStreams.ingestLexIndexStream(mem.toDS(), td,
      s"$dir/lex_stream_ckpt")
    try {
      mem.addData(doc("l/b.txt", "bravo rewritten spark recall"))
      query.processAllAvailable()
      mem.addData(doc("l/c.txt", "charlie joins with spark"))
      query.processAllAvailable()
    } finally query.stop()
    // at-least-once: replay the first delta batch directly
    EventStreams.applyLexIngestBatch(td,
      Seq(doc("l/b.txt", "bravo rewritten spark recall")).toDS())
    // the fusion floor is corpus-bound too and the lex stream twin is
    // index-scoped — recalibrate (reingest's floor step) before serving
    calibrate(td)

    // the maintained artifact serves fresh and equals the scan fallback
    val viaStream = Cli.hybridSearchCommand(spark, td, "spark recall", 5)
    val statsBytes = Files.readAllBytes(Paths.get(LexIndex.statsPath(td)))
    Files.delete(Paths.get(LexIndex.statsPath(td)))
    val viaScan = Cli.hybridSearchCommand(spark, td, "spark recall", 5)
    Files.write(Paths.get(LexIndex.statsPath(td)), statsBytes)
    assert(viaStream == viaScan,
      s"stream-maintained index diverged:\n$viaStream\nvs\n$viaScan")
    // ... and a from-scratch rebuild over the final table agrees
    LexIndex.build(spark, td)
    assert(Cli.hybridSearchCommand(spark, td, "spark recall", 5)
      == viaStream)
    // the lexical channel actually saw all three documents' content
    assert(LexIndex.dfOf(spark, td, Seq("spark"))("spark") >= 3L)
  }

  test("self-query hints scope the hybrid serve (E6 composed into " +
      "hybrid); explicit args and the disable flag override") {
    val engine = new Engine(spark, new OfflineEmbedder(64))
    val td = s"$dir/tables_sq"
    val f = writeDoc("m.md",
      "# Title\n\nProse about spark partitions and shuffle basics " +
        "written plainly here.\n\n```python\ndef spark_partition_helper" +
        "():\n    return \"code fragment speaking of spark\"\n```\n")
    ingestTables(td, List(f), engine)
    calibrate(td)
    LexIndex.build(spark, td)
    val fragsDf = spark.read.parquet(s"$td/fragments")
    import org.apache.spark.sql.functions.col
    val codeIds = fragsDf.filter(col("view") === "code")
      .select("id").collect().map(_.getString(0)).toSet
    assume(codeIds.nonEmpty, "fixture must yield code-view fragments")
    // "code" in the query text → the E6 rule scopes to view=code
    val r = Cli.hybridSearchCommand(spark, td, "code spark", 5)
    assert(r.hits.nonEmpty)
    assert(r.hits.forall(h => codeIds.contains(h._1)),
      s"self-query hint must scope to code fragments: ${r.hits}")
    // the flag restores the unscoped serve (prose fragments eligible)
    val r2 = Cli.hybridSearchCommand(spark, td, "code spark", 5,
      applySelfQuery = false)
    assert(r2.hits.exists(h => !codeIds.contains(h._1)),
      "unscoped serve must rank prose fragments too")
    // an explicit view wins over the hint
    val r3 = Cli.hybridSearchCommand(spark, td, "code spark", 5,
      view = Some("text"))
    assert(r3.hits.nonEmpty)
    assert(r3.hits.forall(h => !codeIds.contains(h._1)),
      "explicit view=text must override the code hint")
  }

  test("a stale stats sidecar refuses to serve (fragments rewritten " +
      "without the lex maintenance step)") {
    val engine = new Engine(spark, new OfflineEmbedder(64))
    val td = s"$dir/tables_stale"
    val fa = writeDoc("s.txt", "foxtrot corpus speaks of parquet rows")
    ingestTables(td, List(fa), engine)
    calibrate(td)
    LexIndex.build(spark, td)
    val stale = Files.readAllBytes(Paths.get(LexIndex.statsPath(td)))
    // rewrite the fragments table out from under the index (the
    // reingest-without-lex-step / torn-maintenance shape)
    Files.write(Paths.get(fa),
      "foxtrot rewritten to different words".getBytes(
        StandardCharsets.UTF_8))
    Cli.reingestCommand(spark, engine, td, List(fa))
    Files.write(Paths.get(LexIndex.statsPath(td)), stale)
    val e = intercept[IllegalArgumentException] {
      Cli.hybridSearchCommand(spark, td, "parquet", 5)
    }
    assert(e.getMessage.contains("STALE"),
      s"expected the lex staleness refusal, got: ${e.getMessage}")
  }

  // ------------------------------------------------------------------
  // MaxScore-bounded serving for stopword-bearing queries: the bounded
  // route must be BIT-EQUAL to the full fold (it is a plan choice, not
  // a semantics change), engage exactly in the stopword regime, and
  // valve to the full fold whenever the bound cannot certify the
  // candidate set.
  // ------------------------------------------------------------------

  /** Direct synthetic fragments table (controlled dfs, no ingest). */
  private def writeSynthetic(td: String, docs: Seq[(String, String)])
      : Unit = {
    val s = spark
    import s.implicits._
    val df = docs.toDF("id", "content")
      .withColumn("document_id",
        org.apache.spark.sql.functions.col("id"))
    graft.ingest.IngestPipeline.writeTable(df, s"$td/fragments")
  }

  /** The corpus-scan reference scorer — the Cli fallback's exact
    * expression shape, independent of LexIndex internals. */
  private def scanTopC(td: String, inCorpus: Seq[String],
      dfMap: Map[String, Long], n: Long, avgdl: Double, c: Int,
      eligible: Option[Set[String]] = None): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    import graft.search.FusionGate
    val toks0 = s.read.parquet(s"$td/fragments")
      .select(col("id").cast("string").as("id"),
        graft.functions.TextSketch.words(col("content")).as("w"))
    val toks = eligible.fold(toks0)(e =>
      toks0.filter(col("id").isin(e.toSeq: _*)))
    val termScores = inCorpus.map { t =>
      val idfT = FusionGate.idf(dfMap(t), n)
      val tf = size(filter(col("w"), x => x === lit(t))).cast("double")
      lit(idfT) * (tf * lit(FusionGate.K1 + 1)) /
        (tf + lit(FusionGate.K1) * (lit(1 - FusionGate.B) +
          lit(FusionGate.B) *
            (size(col("w")).cast("double") / lit(avgdl))))
    }
    toks.select(col("id"), termScores.reduce(_ + _).as("bm25"))
      .filter(col("bm25") > 0d)
      .orderBy(col("bm25").desc, col("id")).limit(c)
      .as[(String, Double)].collect().toSeq
  }

  private def serveFacts(td: String, qTerms: Seq[String])
      : (Seq[String], Map[String, Long], Long, Double) = {
    val st = LexIndex.loadStats(td)
    val dfMap = LexIndex.dfOf(spark, td, qTerms)
    val inCorpus = qTerms.filter(t => dfMap.getOrElse(t, 0L) > 0L)
    (inCorpus, dfMap, st.n, st.sumDl.toDouble / st.n.toDouble)
  }

  test("stopword queries serve through the MaxScore bound, bit-equal " +
      "to the full fold; the bound valves when it cannot certify") {
    val td = s"$dir/tables_maxscore"
    // 400 docs, every one carries the stopword "the" (df = n) and all
    // but the zebra/tie docs carry "here" (df ≈ n − 17, also a
    // stopword); "zebra" df 17 and "quark" df 3 are rare; 100 docs
    // carry ONLY stopwords of the query's terms (the docs the bound
    // must provably exclude). Zebra docs with equal dl share an
    // identical rare part — their relative order is decided purely by
    // the stopwords' tiny exact contributions, so a bounded route that
    // skipped the common fold would mis-rank them, and a c that cuts
    // INSIDE such a group is the sharpest bit-equality stressor.
    val docs = (0 until 400).map { i =>
      val id = f"s$i%04d"
      val thes = Seq.fill(1 + i % 4)("the").mkString(" ")
      val body =
        if (i < 15) s"zebra stripe field w$i" +
          (if (i < 3) " quark" else "")
        else if (i < 18) s"plain w$i filler quarkless here"
        else if (i < 118) "only stopword filler here"
        else s"w$i w${i + 1} w${i + 2} corpus body here"
      id -> s"$thes $body"
    } ++ Seq(
      // the tf-tie stressor pair: identical rare part at equal dl would
      // need the stopword tf to separate; these two differ in BOTH —
      // the bounded fold must reproduce the exact combined order
      "tieA" -> "the zebra stripe field wtie",
      "tieB" -> "the the the the zebra stripe field wtie")
    writeSynthetic(td, docs)
    LexIndex.build(spark, td)

    val q = Seq("the", "zebra", "here")
    val (inC, dfMap, n, avgdl) = serveFacts(td, q)
    assert(dfMap("the") == n, "every doc must carry the stopword")
    assert(dfMap("zebra") == 17L)
    assert(dfMap("here") == n - 17L)
    // c = 10 cuts inside an equal-rare-part group of zebra docs: the
    // boundary members are chosen by the stopword contributions alone
    val (bounded, path) = LexIndex.scoreTopCPath(spark, td, inC, dfMap,
      n, avgdl, 10)
    assert(path == "bounded",
      s"stopword regime must take the MaxScore route, took $path")
    val scan = scanTopC(td, inC, dfMap, n, avgdl, 10)
    assert(bounded == scan,
      s"bounded route diverged from the scan fold:\n$bounded\nvs\n$scan")
    // c = 17 spans every zebra doc: both tie docs are in, ordered by
    // their exact full scores, and no stopword-only doc may enter
    val (bounded17, path17) = LexIndex.scoreTopCPath(spark, td, inC,
      dfMap, n, avgdl, 17)
    assert(path17 == "bounded")
    assert(bounded17 == scanTopC(td, inC, dfMap, n, avgdl, 17))
    val ids17 = bounded17.map(_._1)
    assert(ids17.contains("tieA") && ids17.contains("tieB"))
    assert(ids17.forall(id => id.startsWith("tie") || id < "s0015"),
      s"a stopword-only doc leaked into the certified top-17: $ids17")

    // valve 1: no rare terms (all-stopword query) → full fold
    val (inC2, dfMap2, _, _) = serveFacts(td, Seq("the", "here"))
    val (r2, p2) = LexIndex.scoreTopCPath(spark, td, inC2, dfMap2, n,
      avgdl, 10)
    assert(p2 == "full")
    assert(r2 == scanTopC(td, inC2, dfMap2, n, avgdl, 10))

    // valve 2: no common terms → full fold, unchanged behavior
    val (inC3, dfMap3, _, _) = serveFacts(td, Seq("zebra", "quark"))
    val (r3, p3) = LexIndex.scoreTopCPath(spark, td, inC3, dfMap3, n,
      avgdl, 10)
    assert(p3 == "full")
    assert(r3 == scanTopC(td, inC3, dfMap3, n, avgdl, 10))

    // valve 3: fewer rare-scored docs than c → the tail would be
    // common-only docs the bound cannot rank → full fold
    val (inC4, dfMap4, _, _) = serveFacts(td, Seq("the", "quark"))
    val (r4, p4) = LexIndex.scoreTopCPath(spark, td, inC4, dfMap4, n,
      avgdl, 10)
    assert(p4 == "full",
      "3 rare-scored docs cannot certify a top-10 — must valve")
    assert(r4 == scanTopC(td, inC4, dfMap4, n, avgdl, 10))

    // scoped serve: eligibility composes with the bound (rare scoring,
    // candidate set and recompute all see only eligible docs)
    val elig = docs.map(_._1).filter(_.hashCode % 2 == 0).toSet
    val s = spark
    import s.implicits._
    val eligDf = elig.toSeq.toDF("id")
    val (r5, p5) = LexIndex.scoreTopCPath(spark, td, inC, dfMap, n,
      avgdl, 6, eligible = Some(eligDf))
    assert(p5 == "bounded" || p5 == "full") // regime depends on the cut
    assert(r5 == scanTopC(td, inC, dfMap, n, avgdl, 6,
      eligible = Some(elig)),
      s"scoped $p5 route diverged from the scoped scan")
  }

  /** Exact df census straight off the fragments table — the reference
    * the lexicon must always agree with. */
  private def dfCensus(td: String, q: Seq[String]): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    s.read.parquet(s"$td/fragments")
      .select(explode(array_distinct(
        graft.functions.TextSketch.words(col("content")))).as("t"))
      .filter(col("t").isin(q: _*))
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap
  }

  test("lexicon df: the dict route is a metadata read that stays exact " +
      "through build, deltas, torn sidecars, self-heal and compaction") {
    val td = s"$dir/tables_dict"
    val docs0 = Seq(
      "da" -> "alpha beta alpha", // df counts distinct fragments: 1 each
      "db" -> "alpha gamma",
      "dc" -> "beta delta corpus",
      "dd" -> "alpha beta gamma delta",
      "de" -> "corpus corpus filler")
    writeSynthetic(td, docs0)
    LexIndex.build(spark, td)
    val q = Seq("alpha", "beta", "gamma", "delta", "corpus", "zzz_oov")
    val (m1, p1) = LexIndex.dfOfPath(spark, td, q)
    assert(p1 == "dict", "a fresh build must serve df from the lexicon")
    assert(m1 == dfCensus(td, q))
    assert(!m1.contains("zzz_oov"))

    // delta 1: replace db (drops an alpha+gamma carrier), new content
    // adds an epsilon carrier — table first, then the lex delta (the
    // reingest order)
    val docs1 = docs0.filterNot(_._1 == "db") :+
      ("db" -> "epsilon corpus beta")
    writeSynthetic(td, docs1)
    val s0 = spark
    import s0.implicits._
    LexIndex.appendDelta(spark, td, Seq("db"),
      Seq("db" -> "epsilon corpus beta").toDF("id", "content")
        .withColumn("document_id",
          org.apache.spark.sql.functions.col("id")))
    val q2 = q :+ "epsilon"
    val (m2, p2) = LexIndex.dfOfPath(spark, td, q2)
    assert(p2 == "dict")
    assert(m2 == dfCensus(td, q2),
      s"post-delta lexicon drifted from the corpus census: $m2")

    // torn dict epoch → valve to the exact count, identical map
    Files.delete(Paths.get(s"$td/lex_dict/_epoch.txt"))
    val (m3, p3) = LexIndex.dfOfPath(spark, td, q2)
    assert(p3 == "count", "a torn epoch must valve, not serve the dict")
    assert(m3 == m2)
    // self-heal restores the dict route
    assert(LexIndex.ensureSidecars(spark, td))
    val (m4, p4) = LexIndex.dfOfPath(spark, td, q2)
    assert(p4 == "dict" && m4 == m2)
    assert(!LexIndex.ensureSidecars(spark, td), "healthy must be a no-op")

    // forward sidecar gone → the NEXT delta's df adjustment falls back
    // to the exact postings count; the lexicon stays exact either way
    graft.ingest.TableSwap.rmTreeAt(s"$td/lex_forward")
    val docs2 = docs1.filterNot(_._1 == "da") :+
      ("da" -> "zeta beta")
    writeSynthetic(td, docs2)
    LexIndex.appendDelta(spark, td, Seq("da"),
      Seq("da" -> "zeta beta").toDF("id", "content")
        .withColumn("document_id",
          org.apache.spark.sql.functions.col("id")))
    val q3 = q2 :+ "zeta"
    val (m5, p5) = LexIndex.dfOfPath(spark, td, q3)
    assert(p5 == "dict")
    assert(m5 == dfCensus(td, q3),
      "the exact-fallback df adjustment must keep the lexicon right")
    assert(LexIndex.ensureSidecars(spark, td),
      "a missing forward sidecar must be rebuilt")

    // compaction folds everything; the dict route survives with a
    // reset epoch and the same exact census
    assert(LexIndex.compact(spark, td) >= 1)
    val (m6, p6) = LexIndex.dfOfPath(spark, td, q3)
    assert(p6 == "dict" && m6 == dfCensus(td, q3))
    assert(Files.readString(
      Paths.get(s"$td/lex_dict/_epoch.txt")).trim.isEmpty,
      "compaction must reset the lexicon epoch")
  }

  test("MaxScore route equality fuzz: random stopword corpora agree " +
      "with the scan fold on every path") {
    val rnd = new scala.util.Random(20260816L)
    var boundedSeen = 0
    (0 until 3).foreach { seed =>
      val td = s"$dir/tables_fuzz$seed"
      // 120-term vocab over 240 docs: body-term dfs straddle the
      // StopDfFrac cut and the certification margin, so the route
      // choice itself is fuzzed (both paths must agree regardless)
      val vocab = (0 until 120).map(i => s"v${seed}x$i")
      val docs = (0 until 240).map { i =>
        val id = f"f$seed%d_$i%04d"
        val stop = Seq.fill(rnd.nextInt(4))("the") ++
          Seq.fill(rnd.nextInt(3))("of")
        val body = Seq.fill(2 + rnd.nextInt(5))(
          vocab(rnd.nextInt(vocab.size)))
        id -> rnd.shuffle(stop ++ body).mkString(" ")
      }
      writeSynthetic(td, docs)
      LexIndex.build(spark, td)
      (0 until 3).foreach { _ =>
        val q = Seq("the", "of") ++
          Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.size)))
        val (inC, dfMap, n, avgdl) = serveFacts(td, q.distinct)
        val c = 5 + rnd.nextInt(10)
        val (r, p) = LexIndex.scoreTopCPath(spark, td, inC, dfMap, n,
          avgdl, c)
        if (p == "bounded") boundedSeen += 1
        val s0 = scanTopC(td, inC, dfMap, n, avgdl, c)
        assert(r == s0,
          s"seed=$seed path=$p c=$c q=$q diverged:\n$r\nvs\n$s0")
      }
    }
    assert(boundedSeen >= 1,
      "the fuzz never engaged the MaxScore route — corpus shape drifted")
  }

  test("a warm serve re-lists no table; after a reingest the next serve " +
      "reads the rewritten fragment") {
    val engine = new Engine(spark, new OfflineEmbedder(64))
    val td = s"$dir/tables_warm"
    // enough distinct words that the postings and the lexicon span more
    // than 32 term_bucket cells: opening either cold is a listing job
    val files = (0 until 120).map(i => s"w${i}x").grouped(40).zipWithIndex
      .map { case (ws, i) =>
        writeDoc(s"warm$i.txt", s"document $i speaks of ${ws.mkString(" ")}")
      }.toList
    ingestTables(td, files, engine)
    calibrate(td)
    LexIndex.build(spark, td)
    val query = "w3x w45x w90x"
    val (cold, coldJobs) = JobLog.during(spark) {
      Cli.hybridSearchCommand(spark, td, query, 5)
    }
    assert(coldJobs.exists(_.isListing),
      s"the cold serve must list the postings: $coldJobs")
    val (warm, warmJobs) = JobLog.during(spark) {
      Cli.hybridSearchCommand(spark, td, query, 5)
    }
    assert(warm == cold)
    assert(!warmJobs.exists(_.isListing),
      s"a warm serve must reuse every opened table: $warmJobs")

    Files.write(Paths.get(files.head),
      "document zero rewritten about quokka marsupials basking"
        .getBytes(StandardCharsets.UTF_8))
    Cli.reingestCommand(spark, engine, td, List(files.head))
    import org.apache.spark.sql.functions.col
    val rewritten = spark.read.parquet(s"$td/fragments")
      .filter(col("content").contains("quokka"))
      .select("id").collect().map(_.getString(0)).toSeq
    assert(rewritten.size == 1)
    val after =
      Cli.hybridSearchCommand(spark, td, "quokka marsupials basking", 5)
    assert(after.hits.headOption.map(_._1) == rewritten.headOption,
      s"the serve after a reingest must rank the rewritten fragment " +
        s"first: ${after.hits}")
  }
}
