package graft

import org.apache.spark.sql.functions.col

import graft.api.{Engine, Generation}
import graft.embedding.OfflineEmbedder
import graft.ingest.IngestPipeline.DocInput

/** CLI mirroring the reference's entry points (api/cli/{ingest,search,
  * quality}.py) so a reference user can run the same workflows, plus the
  * index builds and serves over a tables dir (`runMain graft.Cli <verb>`;
  * the usage line at the bottom of [[main]] gives every verb's arguments):
  *
  *   - tables: `ingest`, `reingest`, `compact`, `metrics`, `quality`
  *   - exact retrieval: `search`, `rag`
  *   - ANN: `index`/`ann-search` (IVF), `pq-index`/`pq-search`,
  *     `sq-index`/`sq-search`, `hnsw-index`/`hnsw-search`,
  *     `hnsw-index-routed`/`hnsw-search-routed`
  *   - lexical and hybrid: `lex-index`/`lex-search`, `fusion-calibrate`,
  *     `hybrid-search`
  *   - catalog side tables: `index-sketches`, `classify-train`,
  *     `classify-score`
  *
  * An optional positional argument given as `-` or `""` is absent, so a
  * later one can be set while this one keeps its default
  * (`hybrid-search <t> <q> 10 - en`).
  */
object Cli {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val engine = new Engine(spark, new OfflineEmbedder(64))

    def readDocs(files: List[String]) = readDocFiles(spark, files)

    args.toList match {
      case "ingest" :: outDir :: files if files.nonEmpty =>
        val docs = readDocs(files)
        val r = engine.ingest(docs)
        import graft.ingest.IngestPipeline.writeTable
        writeTable(r.documents.toDF(), s"$outDir/documents", key = "id")
        writeTable(r.concepts.toDF(), s"$outDir/concepts")
        writeTable(r.fragments.toDF(), s"$outDir/fragments")
        writeTable(r.parents.toDF(), s"$outDir/parents")
        writeTable(r.embeddings.toDF(), s"$outDir/embeddings")
        println(s"[ingest] documents=${r.documents.count()} " +
          s"fragments=${r.fragments.count()} embeddings=${r.embeddings.count()}")
        r.release()

      case "reingest" :: tablesDir :: files if files.nonEmpty =>
        reingestCommand(spark, engine, tablesDir, files)

      case "search" :: tablesDir :: query :: rest =>
        val topK = intArg(rest, 0, 10)
        val view = optArg(rest, 1)
        val lang = optArg(rest, 2)
        val embeddings = spark.read.parquet(s"$tablesDir/embeddings")
          .as[graft.domain.Model.EmbeddingRow]
        val parents = spark.read.parquet(s"$tablesDir/parents")
          .as[graft.domain.Model.ParentRow]
        val hits = engine.search(embeddings, parents, query, topK, view, lang)
        hits.zipWithIndex.foreach { case (h, i) =>
          println(f"#${i + 1}%-3d sim=${h.similarity}%.4f [${h.view}" +
            h.lang.map("/" + _).getOrElse("") + s"] ${h.fragment_id}")
          println("     " + h.content.take(120).replace("\n", " "))
        }
        val resp = Generation.OfflineGenerator.generate(query, hits)
        println(s"[answer] ${resp.answer.take(200)}")

      // Build + persist the IVF ANN index for a tables dir: train the
      // coarse quantizer on a deterministic sample, assign list ids with
      // the codegen'd expression, write partitioned by list_id (probes
      // become partition pruning on disk) + the quantizer sidecar.
      case "index" :: tablesDir :: rest =>
        val k = intArg(rest, 0, 64)
        val replicas = intArg(rest, 1, 1)
        // doc_bucket is the SOURCE table's layout column; the index has its
        // own layout (list_id) and must not inherit it
        val e = spark.read.parquet(s"$tablesDir/embeddings").drop("doc_bucket")
        val sample = e.orderBy(col("fragment_id")).limit(10000)
          .select(col("vector")).as[Seq[Float]].collect().map(_.toArray)
        val q = graft.search.Ivf.train(sample, k).copy(replicas = replicas)
        // replicas rides the sidecar so ann-search knows whether the
        // index can hold duplicate candidates (dedupe is only paid then)
        graft.search.Ivf.save(q, s"$tablesDir/ivf_quantizer.txt")
        val indexed =
          if (replicas > 1) graft.search.Ivf.buildIndexMultiAssign(e, q, replicas)
          else graft.search.Ivf.buildIndex(e, q)
        graft.sources.TableLayout.writePartitionedSorted(
          indexed, s"$tablesDir/embeddings_ivf",
          "list_id", Seq("fragment_id"))
        val n = spark.read.parquet(s"$tablesDir/embeddings_ivf")
          .groupBy(col("list_id")).count().count()
        println(s"[index] k=${q.k} dim=${q.dim} replicas=$replicas lists_used=$n")

      // ANN search against the persisted index: nprobe nearest lists →
      // partition-pruned scan → exact cosine re-rank.
      case "ann-search" :: tablesDir :: query :: rest =>
        val topK = intArg(rest, 0, 10)
        val nprobe = intArg(rest, 1, 2)
        // optional metadata filter — the reference's primary query shape
        // (`--view code`: WHERE view = ? inside the index scan); the
        // predicate applies to the probed candidates BEFORE the re-rank
        // and the probe widens adaptively if it starves the candidates
        val view = optArg(rest, 2)
        val q = graft.search.Ivf.load(s"$tablesDir/ivf_quantizer.txt")
        val index = spark.read.parquet(s"$tablesDir/embeddings_ivf")
        val qvec = new OfflineEmbedder(q.dim).embedQuery(query)
        // candidate dedupe is a hash-aggregate exchange over the probed
        // rows — pay it only when the sidecar says the index was built
        // multi-assigned (a single-assign index cannot hold duplicates)
        val hits = (view match {
          case Some(v) =>
            // adaptive prober is replica-aware (distinct-counts and
            // dedupes unless the sidecar explicitly says replicas 1)
            val a = graft.search.Ivf.searchFilteredAdaptive(
              index, qvec, q, topK, col("view") === v, nprobe)
            println(s"[ann-search] view=$v nprobe_used=${a.nprobeUsed} " +
              s"eligible_candidates=${a.eligibleCandidates}")
            a.hits
          case None if q.replicas != 1 =>
            // != 1: a pre-record sidecar (replicas = 0) may front a
            // multi-assigned index — keep the dedupe it always had
            graft.search.Ivf.searchMultiAssign(index, qvec, q, topK, nprobe)
          case None =>
            graft.search.Ivf.search(index, qvec, q, topK, nprobe)
        })
          .select(col("fragment_id"), col("view"), col("similarity"))
          .collect()
        Cli.printRowHits(hits)

      // Build + persist shard-local HNSW graphs as a parquet adjacency
      // table (the pgvector-HNSW analog, storage/schema.py:78-84; the
      // O(n·efC·log n) build cost is paid once at write time, like
      // IVF's list assignment).
      case "hnsw-index" :: tablesDir :: rest =>
        val shards = intArg(rest, 0, 8)
        val e = spark.read.parquet(s"$tablesDir/embeddings")
        // docCol: the cascade key — without it the stored doc_id would be
        // the fragment id and replace-by-document maintenance (reingest,
        // ingestHnswIndexStream) could never find a replaced document's
        // old rows
        graft.search.HnswMaintenance.writeIndex(
          e, s"$tablesDir/embeddings_hnsw", shards,
          docCol = Some("document_id"))
        val n = spark.read.parquet(s"$tablesDir/embeddings_hnsw").count()
        println(s"[hnsw-index] shards=$shards nodes=$n")

      // Build + persist the CLUSTER-ROUTED HNSW index: k-means router
      // (one centroid per cell, trained on an md5-ordered sample),
      // x`replicas` assignment, size-bounded sub-shards — the layout
      // whose per-query walk is flat in total shard count. Maintained
      // by reingest via the frozen router; served pruned to R cells.
      case "hnsw-index-routed" :: tablesDir :: rest =>
        val cells = intArg(rest, 0, 8)
        val replicas = intArg(rest, 1, 3)
        val e = spark.read.parquet(s"$tablesDir/embeddings")
          .drop("doc_bucket")
        val sample = e.orderBy(org.apache.spark.sql.functions.md5(
            col("fragment_id")))
          .limit(math.max(8192, 32 * cells))
          .select(col("vector")).as[Seq[Float]].collect().map(_.toArray)
        val router = graft.search.Ivf.train(sample, cells)
        graft.search.HnswMaintenance.writeIndexRouted(
          e, s"$tablesDir/embeddings_hnsw_routed", router,
          replicas = replicas, docCol = Some("document_id"))
        val n = spark.read.parquet(s"$tablesDir/embeddings_hnsw_routed")
          .count()
        println(s"[hnsw-index-routed] cells=${router.k} " +
          s"replicas=$replicas rows=$n (x$replicas replicated)")

      // Routed graph walk: the query probes its R nearest cells only —
      // partition-pruned at the file source, replica-deduped merge.
      case "hnsw-search-routed" :: tablesDir :: query :: rest =>
        printDenseHits(graft.search.VectorSearch.dense(spark, tablesDir,
          query, intArg(rest, 0, 10), ef = intArg(rest, 1, 64),
          view = optArg(rest, 3), lang = None,
          graft.search.VectorSearch.RoutedGraph(intArg(rest, 2, 6))))

      // Batch graph walk over the persisted adjacency table; ef = beam
      // width (ef >= shard size degenerates to the exact scan).
      case "hnsw-search" :: tablesDir :: query :: rest =>
        printDenseHits(graft.search.VectorSearch.dense(spark, tablesDir,
          query, intArg(rest, 0, 10), ef = intArg(rest, 1, 64),
          view = optArg(rest, 2), lang = None,
          graft.search.VectorSearch.FlatGraph))

      // Extend the persisted IVF index with PQ codes (IVFPQ): train the
      // product codebook on the same deterministic sample, add the
      // codegen'd pq_code column, rewrite the index + codebook sidecar.
      case "pq-index" :: tablesDir :: rest =>
        val m = intArg(rest, 0, 8)
        val ksub = intArg(rest, 1, 16)
        val e = spark.read.parquet(s"$tablesDir/embeddings_ivf")
          .drop("doc_bucket")
        val sample = e.orderBy(col("fragment_id")).limit(10000)
          .select(col("vector")).as[Seq[Float]].collect().map(_.toArray)
        val cb = graft.search.Pq.train(sample, m, ksub)
        // index and sidecar are separate artifacts, so no write order makes
        // the pair atomic (crash between them ⇒ new/old mismatch either
        // way); instead every index row carries the codebook fingerprint
        // (pq_cb_hash, stamped by Pq.encode) and pq-search refuses a
        // sidecar whose hash differs — a torn rewrite fails loudly
        graft.sources.TableLayout.writePartitionedSorted(
          graft.search.Pq.encode(e, cb), s"$tablesDir/embeddings_ivfpq",
          "list_id", Seq("fragment_id"))
        graft.search.Pq.save(cb, s"$tablesDir/pq_codebook.txt")
        println(s"[pq-index] m=${cb.m} ksub=${cb.ksub} dsub=${cb.dsub} " +
          s"compression=${cb.dim * 4.0 / cb.m}x")

      // IVFPQ search: nprobe-pruned lists → ADC scan over codes → exact
      // re-rank of the shortlist.
      case "pq-search" :: tablesDir :: query :: rest =>
        quantizedSearch(spark, tablesDir, query, rest,
          indexName = "embeddings_ivfpq", cbName = "pq_codebook.txt",
          reindexCmd = "pq-index")

      // Extend the persisted IVF index with scalar-quantization codes
      // (IVF+SQ8): per-dimension uniform-grid codebook ([[graft.search.Sq]]
      // — a PQ codebook shape, so encode/search/sidecar/guards all reuse
      // the PQ path), 4× compression with far less distortion than PQ.
      case "sq-index" :: tablesDir :: rest =>
        val levels = intArg(rest, 0, 256)
        val e = spark.read.parquet(s"$tablesDir/embeddings_ivf")
          .drop("doc_bucket")
        val sample = e.orderBy(col("fragment_id")).limit(10000)
          .select(col("vector")).as[Seq[Float]].collect().map(_.toArray)
        val cb = graft.search.Sq.train(sample, levels)
        graft.sources.TableLayout.writePartitionedSorted(
          graft.search.Pq.encode(e, cb), s"$tablesDir/embeddings_ivfsq",
          "list_id", Seq("fragment_id"))
        graft.search.Pq.save(cb, s"$tablesDir/sq_codebook.txt")
        println(s"[sq-index] dims=${cb.m} levels=${cb.ksub} compression=4.0x")

      // IVF+SQ search: same pruned-ADC-rerank pipeline over SQ codes.
      case "sq-search" :: tablesDir :: query :: rest =>
        quantizedSearch(spark, tablesDir, query, rest,
          indexName = "embeddings_ivfsq", cbName = "sq_codebook.txt",
          reindexCmd = "sq-index")

      // §3.3 repl --rag, non-interactive: each question retrieves (k=5,
      // context-expanded), generates with the rolling ≤5-turn history
      // (last 3 rendered into the prompt), and feeds the turn back in.
      case "rag" :: tablesDir :: questions if questions.nonEmpty =>
        val embeddings = spark.read.parquet(s"$tablesDir/embeddings")
          .as[graft.domain.Model.EmbeddingRow]
        val parents = spark.read.parquet(s"$tablesDir/parents")
          .as[graft.domain.Model.ParentRow]
        var history = Generation.History()
        questions.foreach { q =>
          val hits = engine.search(embeddings, parents, q, topK = 5)
          val resp = Generation.OfflineGenerator.generate(q, hits, history)
          println(s"Q: $q")
          println(s"A: ${resp.answer}")
          resp.sources.take(3).foreach(src => println(s"   [src] $src"))
          history = history.add(Generation.Turn(q, resp.answer))
        }

      // Build the inverted lexical postings index (term-bucket-
      // partitioned BM25 postings + exact corpus-stats sidecar) — once
      // present, hybrid-search's lexical channel is a pruned read and
      // Cli reingest maintains it with delta batches.
      case "lex-index" :: tablesDir :: Nil =>
        val st = graft.search.LexIndex.build(spark, tablesDir)
        println(s"[lex-index] n=${st.n} sum_dl=${st.sumDl} " +
          s"buckets<=${graft.search.LexIndex.Buckets}")

      // Pure lexical (BM25) top-k through the postings index: df census
      // + scoring read only the query terms' buckets. Requires the
      // index (this verb IS the pruned path; the lexical channel's scan
      // route serves hybrid-search over indexless tables).
      case "lex-search" :: tablesDir :: query :: rest =>
        require(graft.search.LexIndex.exists(tablesDir),
          s"no lex index under $tablesDir — run lex-index first")
        val (_, _, _, hits) = graft.search.LexIndex.topC(spark, tablesDir,
          query, intArg(rest, 0, 10))
        hits.zipWithIndex.foreach { case ((id, score), i) =>
          println(f"#${i + 1}%-3d bm25=$score%.4f $id")
        }
        if (hits.isEmpty) println("(no lexical matches)")

      // Calibrate + persist the gated-fusion confidence floor for a
      // tables dir (the [[graft.search.FusionFloor]] sidecar). Reingest
      // refreshes it automatically; hybrid-search refuses a stale one.
      case "fusion-calibrate" :: tablesDir :: Nil =>
        val frags = spark.read.parquet(s"$tablesDir/fragments")
        val a = graft.search.FusionFloor.calibrate(frags, "id", "content",
          tableDir = Some(s"$tablesDir/fragments"))
        graft.search.FusionFloor.save(a, s"$tablesDir/fusion_floor.txt")
        println(s"[fusion-calibrate] corpus_fp=${a.corpusFp} " +
          s"floor=${a.floor}")

      // Gated hybrid serving (the v24 contract over a tables dir): BM25
      // over fragment content fused with the dense KNN under the
      // lexical-confidence gate; degrades to dense-only below the
      // calibrated floor. Hard-errors if the floor sidecar is stale.
      case "hybrid-search" :: tablesDir :: query :: rest =>
        val r = hybridSearchCommand(spark, tablesDir, query,
          intArg(rest, 0, 10), view = optArg(rest, 1),
          lang = optArg(rest, 2))
        println(f"[hybrid-search] conf=${r.conf}%.4f floor=${r.floor}%.4f " +
          (if (r.wLex > 0) "gate=FUSED" else "gate=DENSE-ONLY"))
        // k-bounded content fetch for display (the reference's searcher
        // prints text, not bare ids) — a pushed-filter point read
        val snippets: Map[String, String] =
          if (r.hits.isEmpty) Map.empty
          else graft.queries.StageCache.table(spark, s"$tablesDir/fragments")
            .filter(col("id").isin(r.hits.map(_._1): _*))
            .select(col("id"), col("content"))
            .collect()
            .map(x => x.getString(0) -> x.getString(1).replace('\n', ' ')
              .take(72)).toMap
        r.hits.zipWithIndex.foreach { case ((id, rl, rv, sc), i) =>
          println(f"#${i + 1}%-3d score=$sc%.5f r_lex=$rl r_vec=$rv $id " +
            s"| ${snippets.getOrElse(id, "")}")
        }

      case "quality" :: tablesDir :: goldenPath :: Nil =>
        val embeddings = spark.read.parquet(s"$tablesDir/embeddings")
          .as[graft.domain.Model.EmbeddingRow]
        val parents = spark.read.parquet(s"$tablesDir/parents")
          .as[graft.domain.Model.ParentRow]
        val golden = engine.loadGolden(goldenPath)
        val results = engine.evalGolden(embeddings, parents, golden)
        results.foreach(r => println(s"${if (r.passed) "PASS" else "FAIL"} ${r.query_id}"))
        println(s"Passed: ${results.count(_.passed)}/${results.length}")

      // Table maintenance: coalesce fragmented partitions (streaming
      // ingest / incremental index updates leave small files) back to the
      // target file size. Only fragmented partitions are touched.
      case "compact" :: tablesDir :: rest =>
        val targetMb = intArg(rest, 0, 128)
        val tables = Seq(
          "documents" -> "id", "concepts" -> "document_id",
          "fragments" -> "document_id", "parents" -> "document_id",
          "embeddings" -> "document_id", "embeddings_ivf" -> "fragment_id",
          "embeddings_ivfpq" -> "fragment_id",
          "embeddings_ivfsq" -> "fragment_id")
        tables.foreach { case (t, sortCol) =>
          val p = s"$tablesDir/$t"
          if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p))) {
            val st = graft.sources.TableLayout.compact(
              spark, p, targetMb.toLong * 1024 * 1024, Seq(sortCol))
            println(s"[compact] $t: ${st.filesBefore} -> ${st.filesAfter} " +
              s"files (${st.partitionsCompacted} partitions rewritten)")
          }
        }
        // the lexical index compacts by folding its delta batches back
        // into the term-bucketed base (segment merge, not file merge)
        if (graft.search.LexIndex.exists(tablesDir)) {
          val folded = graft.search.LexIndex.compact(spark, tablesDir)
          println(s"[compact] lex_postings: $folded delta batches folded")
        }

      // Persist the write-time sketch/gram tables the dedup queries'
      // scaladocs promise (minhash signatures, digest split, gram pairs).
      // Point spark.graft.stageCache.path at <outRoot> afterwards and
      // d2/d3/d9/d10/d12/d13 read these tables instead of recomputing —
      // the local enactment of "sketches are computed once at corpus
      // write time".
      case "index-sketches" :: sfDir :: outRoot :: Nil =>
        // refresh must COMPUTE, not read-through: with stageCache.path
        // already set, the stage plans would read the very parquet paths
        // persistStage is about to overwrite (Spark refuses to overwrite
        // a path being read). Unset the conf and drop memoized stages
        // for the build, then record the staleness fingerprint.
        spark.conf.unset(graft.queries.StageCache.PathConf)
        graft.queries.StageCache.release(spark)
        val (np, ns) = graft.queries.WriteTimeTables
          .persistAll(spark, sfDir, outRoot, println(_))
        println(s"[index-sketches] $np persisted, $ns already fresh")

      case "classify-train" :: sfDir :: modelPath :: Nil =>
        import graft.functions.HashedLogReg
        import org.apache.spark.sql.functions.avg
        val dim = 64
        val docs = HashedLogReg.teacherDocs(Tables.documents(spark, sfDir))
        val feats = HashedLogReg.hashedFeatures(docs, col("doc_id"),
          col("y"), col("w"), dim).coalesce(4).cache()
        feats.count()
        val (w, b) = HashedLogReg.trainNewton(feats, dim, iters = 5)
        val acc = HashedLogReg.score(feats, w, b)
          .agg(avg(col("correct"))).head().getDouble(0)
        feats.unpersist()
        Seq((w.toSeq, b, dim)).toDF("wv", "wb", "dim")
          .coalesce(1).write.mode("overwrite").parquet(modelPath)
        println(f"[classify-train] dim=$dim acc=$acc%.3f model=$modelPath")

      case "classify-score" :: sfDir :: modelPath :: Nil =>
        import graft.functions.HashedLogReg
        import org.apache.spark.sql.functions.{avg, count, lit, sum => fsum}
        val m = spark.read.parquet(modelPath).head()
        val w = m.getSeq[Double](0).toArray
        val b = m.getDouble(1)
        val dim = m.getInt(2)
        val docs = HashedLogReg.teacherDocs(Tables.documents(spark, sfDir))
        val feats = HashedLogReg.hashedFeatures(docs, col("doc_id"),
          col("y"), col("w"), dim)
        // one pass: count rides the same agg, nothing executes twice
        val row = HashedLogReg.score(feats, w, b)
          .agg(count(lit(1)), avg(col("correct")),
            fsum(col("predicted")), fsum(col("y"))).head()
        if (row.getLong(0) == 0L) println("[classify-score] empty corpus")
        else println(f"[classify-score] n=${row.getLong(0)} " +
          f"acc_vs_teacher=${row.getDouble(1)}%.3f " +
          s"n_predicted_pos=${row.getLong(2)} n_teacher_pos=${row.getLong(3)}")

      case "metrics" :: tablesDir :: Nil =>
        val embeddings = spark.read.parquet(s"$tablesDir/embeddings")
          .as[graft.domain.Model.EmbeddingRow]
        val m = engine.metrics(embeddings)
        println(s"embeddings=${m.nEmbeddings} missing(doc=${m.nMissingDocId}, " +
          s"parent=${m.nMissingParentId}, fragment=${m.nMissingFragmentId}) " +
          s"short=${m.nShortContent} dup_doc_ids=${m.nDuplicateDocIds}")
        println("views: " + m.viewDistribution.map { case (v, n) => s"$v=$n" }.mkString(", "))
        println("langs: " + m.langDistribution.map { case (l, n) => s"$l=$n" }.mkString(", "))

      case _ =>
        System.err.println(
          "usage ([optional] given as - or \"\" keeps its default): " +
            "ingest <out> <files...> | reingest <tables> <files...> | " +
            "search <tables> <query> [k] [view] [lang] | " +
            "index <tables> [k] [replicas] | " +
            "ann-search <tables> <query> [k] [nprobe] [view] | " +
            "hnsw-index <tables> [shards] | " +
            "hnsw-search <tables> <query> [k] [ef] [view] | " +
            "hnsw-index-routed <tables> [cells] [replicas] | " +
            "hnsw-search-routed <tables> <query> [k] [ef] [R] [view] | " +
            "pq-index <tables> [m] [ksub] | " +
            "pq-search <tables> <query> [k] [nprobe] [shortlist] [view] | " +
            "sq-index <tables> [levels] | " +
            "sq-search <tables> <query> [k] [nprobe] [shortlist] [view] | " +
            "fusion-calibrate <tables> | " +
            "lex-index <tables> | lex-search <tables> <query> [k] | " +
            "hybrid-search <tables> <query> [k] [view] [lang] | " +
            "index-sketches <sfDir> <outRoot> | " +
            "classify-train <sfDir> <model> | classify-score <sfDir> <model> | " +
            "rag <tables> <question...> | " +
            "quality <tables> <golden.jsonl> | metrics <tables> | " +
            "compact <tables> [targetMB]")
    }
    spark.stop()
  }

  /** Optional positional argument `i` of a verb's trailing arguments:
    * absent when missing, empty or the `-` placeholder. */
  private[graft] def optArg(rest: List[String], i: Int): Option[String] =
    rest.lift(i).filter(a => a.nonEmpty && a != "-")

  /** [[optArg]] as an integer, `default` when absent. */
  private[graft] def intArg(rest: List[String], i: Int, default: Int): Int =
    optArg(rest, i).map(_.toInt).getOrElse(default)

  private[graft] def readDocFiles(spark: org.apache.spark.sql.SparkSession,
      files: List[String]): org.apache.spark.sql.Dataset[DocInput] = {
    import spark.implicits._
    files.map { f =>
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
      // .pdf: raw bytes ride in the text field as Latin-1 (lossless
      // byte↔char); everything else is UTF-8 text — see DocInput's doc
      val text =
        if (f.endsWith(".pdf"))
          new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
        else new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      DocInput(f, text, isOcr = false)
    }.toDS()
  }

  /** The `reingest` command. Each table merge is individually crash-safe
    * ([[graft.ingest.TableSwap]]), but the batch swaps six artifacts in
    * sequence — the cross-step journal ([[graft.ingest.ReingestJournal]])
    * records the batch so a crash BETWEEN swaps is detected here and the
    * interrupted batch re-applied (idempotent by document key, completed
    * steps skipped) before anything new runs.
    */
  private[graft] def reingestCommand(spark: org.apache.spark.sql.SparkSession,
      engine: Engine, tablesDir: String, files: List[String]): Unit = {
    import graft.ingest.ReingestJournal
    ReingestJournal.read(tablesDir) match {
      case Some(prev) if prev.files != files =>
        System.err.println(s"[reingest] completing interrupted batch of " +
          s"${prev.files.length} files first " +
          s"(steps done: ${prev.done.mkString(", ")})")
        reingestBatch(spark, engine, tablesDir, prev.files.toList, prev.done.toSet)
        reingestBatch(spark, engine, tablesDir, files, Set.empty)
      case Some(prev) =>
        // same batch re-run after a crash: skip completed steps
        reingestBatch(spark, engine, tablesDir, files, prev.done.toSet)
      case None =>
        reingestBatch(spark, engine, tablesDir, files, Set.empty)
    }
  }

  /** One re-ingest batch, K5 cascade semantics: replace exactly the
    * re-ingested documents, keep everything else (broadcast anti-join
    * merge per table). Steps in `alreadyDone` (from a crashed run's
    * journal) are skipped — their swaps completed.
    */
  private[graft] def reingestBatch(spark: org.apache.spark.sql.SparkSession,
      engine: Engine, tablesDir: String, files: List[String],
      alreadyDone: Set[String]): Unit = {
    import graft.ingest.ReingestJournal
    val r = engine.ingest(readDocFiles(spark, files))
    if (alreadyDone.isEmpty) ReingestJournal.start(tablesDir, files)
    def step(name: String)(body: => Unit): Unit =
      if (alreadyDone.contains(name))
        System.err.println(s"[reingest] skip $name (already applied)")
      else { body; ReingestJournal.markDone(tablesDir, name) }
    // crash-safe stage-then-swap with startup recovery — see
    // [[graft.ingest.TableSwap]] (spec-pinned on every crash state)
    def mergeWrite(name: String, incoming: org.apache.spark.sql.DataFrame,
        key: String = "document_id"): Unit = step(name) {
      graft.ingest.IngestPipeline.replaceDocumentsAt(s"$tablesDir/$name",
        incoming, key)
    }
    mergeWrite("documents", r.documents.toDF(), key = "id")
    mergeWrite("concepts", r.concepts.toDF())
    mergeWrite("fragments", r.fragments.toDF())
    mergeWrite("parents", r.parents.toDF())
    mergeWrite("embeddings", r.embeddings.toDF())
    // keep any persisted ANN index consistent with the new embeddings —
    // incrementally: the frozen quantizer/codebook re-encodes only this
    // batch and only the affected list partitions rewrite
    // ([[graft.search.IndexMaintenance]]), never the whole index
    step("index") {
      val quantizerPath = s"$tablesDir/ivf_quantizer.txt"
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(quantizerPath))) {
        val q = graft.search.Ivf.load(quantizerPath)
        def refreshIndex(name: String,
            encode: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tablesDir/$name"))) {
            val st = graft.search.IndexMaintenance.updateIndex(
              spark, s"$tablesDir/$name", r.embeddings.toDF(), encode)
            println(s"[reingest] $name: rewrote ${st.affectedLists.size} " +
              s"lists (${st.rewrittenRows} rows)")
          }
        refreshIndex("embeddings_ivf", graft.search.Ivf.buildIndex(_, q))
        Seq(("embeddings_ivfpq", "pq_codebook.txt"),
          ("embeddings_ivfsq", "sq_codebook.txt")).foreach {
          case (name, cbFile) =>
            if (java.nio.file.Files.exists(
                java.nio.file.Paths.get(s"$tablesDir/$cbFile"))) {
              val cb = graft.search.Pq.load(s"$tablesDir/$cbFile")
              refreshIndex(name,
                df => graft.search.Pq.encode(
                  graft.search.Ivf.buildIndex(df, q), cb))
            }
        }
      }
      // the graph indexes have their own maintenance path (document
      // cascade over the graph shards; a routed index routes the delta
      // through its frozen router sidecar) — a stale graph would
      // silently serve the replaced documents' old fragments
      Seq("embeddings_hnsw", "embeddings_hnsw_routed").foreach { name =>
        val path = s"$tablesDir/$name"
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
          val st = graft.search.HnswMaintenance.updateIndexByDoc(
            spark, path, r.embeddings.toDF())
          println(s"[reingest] $name: ${st.extendedShards.size} " +
            s"shards extended, ${st.rebuiltShards.size} rebuilt")
        }
      }
    }
    // the lexical postings index maintains by delta batch (Lucene-
    // segment shape): del rows for the replaced documents, ins postings
    // for their new fragments — the base never rewrites. Serving
    // hard-errors on a stale stats sidecar otherwise.
    step("lex_postings") {
      if (graft.search.LexIndex.exists(tablesDir)) {
        val ids = r.documents.toDF().select("id")
          .as[String](org.apache.spark.sql.Encoders.STRING)
          .collect().toSeq
        val k = graft.search.LexIndex.appendDelta(
          spark, tablesDir, ids, r.fragments.toDF())
        println(s"[reingest] lex_postings: delta batch=$k " +
          s"(${ids.length} documents)")
        val folded = graft.search.LexIndex.maybeCompact(spark, tablesDir)
        if (folded > 0)
          println(s"[reingest] lex_postings: compacted $folded delta " +
            "batches into the base")
      }
    }
    // the gated-fusion floor is corpus-calibrated, so a corpus change
    // invalidates it — recalibrate whenever the sidecar exists (same
    // keep-artifacts-consistent contract as the index step above;
    // hybrid-search hard-errors on a stale fingerprint otherwise)
    step("fusion_floor") {
      val floorPath = s"$tablesDir/fusion_floor.txt"
      if (graft.search.FusionFloor.exists(floorPath)) {
        val a = graft.search.FusionFloor.calibrate(
          graft.queries.StageCache.table(spark, s"$tablesDir/fragments"),
          "id", "content",
          tableDir = Some(s"$tablesDir/fragments"))
        graft.search.FusionFloor.save(a, floorPath)
        println(s"[reingest] fusion_floor: recalibrated " +
          s"(corpus_fp=${a.corpusFp}, floor=${a.floor})")
      }
    }
    ReingestJournal.clear(tablesDir)
    val nFrags =
      graft.queries.StageCache.table(spark, s"$tablesDir/fragments").count()
    println(s"[reingest] replaced ${files.length} documents; " +
      s"fragments now $nFrags")
    r.release()
  }

  private[graft] final case class HybridResult(conf: Double, floor: Double,
      wLex: Double, hits: Seq[(String, Long, Long, Double)])

  /** The gated hybrid serving path over a tables dir: the lexical
    * channel ([[graft.search.LexIndex.topC]] — the postings index when
    * built, else a corpus scan, bit-for-bit equal) fused with the dense
    * channel ([[graft.search.VectorSearch.dense]] — the routed graph,
    * else the flat graph, else the exact KNN scan) by weighted RRF under
    * the [[graft.search.FusionGate]] lexical-confidence gate. Explicit
    * view/lang filters win; otherwise the rule-based self-query stage
    * fills them from the query text, and the scope restricts both
    * channels' candidates before rank while corpus statistics stay
    * global. The floor comes from the maintained sidecar and serving
    * REFUSES a floor whose fingerprint no longer matches the fragments
    * table — a reingest without the floor refresh step must be loud,
    * not a silent mis-gate.
    */
  private[graft] def hybridSearchCommand(
      spark: org.apache.spark.sql.SparkSession, tablesDir: String,
      query: String, topK: Int, c: Int = 30,
      view: Option[String] = None, lang: Option[String] = None,
      applySelfQuery: Boolean = true): HybridResult = {
    import graft.search.{FusionFloor, FusionGate, LexIndex, VectorSearch}
    val floorPath = s"$tablesDir/fusion_floor.txt"
    require(FusionFloor.exists(floorPath),
      s"no fusion floor at $floorPath — run fusion-calibrate (or ingest " +
        "through Cli reingest) first")
    // explicit filters win; otherwise the rule-based self-query stage
    // (E6/X16 — the reference composes optimizer → searcher this way)
    // fills view/lang hints from the query text
    val hints =
      if (applySelfQuery && (view.isEmpty || lang.isEmpty))
        graft.api.RuleBasedSelfQuery.extract(query)
      else graft.api.SelfQuery.Filters(None, None)
    val effView = view.orElse(hints.view)
    val effLang = lang.orElse(hints.lang)
    val art = FusionFloor.load(floorPath)
    // stamped sidecars validate against the table's file listing —
    // freshness costs a directory list, not a corpus scan (legacy
    // sidecars fall back to the exact fingerprint pass, the serve's only
    // open of `fragments` outside the lexical channel)
    FusionFloor.requireFreshAt(art, s"$tablesDir/fragments", floorPath)(
      FusionFloor.currentFp(spark.read.parquet(s"$tablesDir/fragments"),
        "id", "content"))
    val (n, dfMap, inCorpus, lexScored) =
      LexIndex.topC(spark, tablesDir, query, c, effView, effLang)
    val idfSum = inCorpus.map(t => FusionGate.idf(dfMap(t), n)).sum
    val conf = FusionGate.confidence(
      lexScored.headOption.map(_._2).getOrElse(0.0), idfSum)
    val wLex = FusionGate.lexWeight(conf, art.floor)
    val vecIds = VectorSearch.dense(spark, tablesDir, query, c, ef = 64,
      effView, effLang, VectorSearch.preferredRoute(spark, tablesDir))
      .map(_._1)
    HybridResult(conf, art.floor, wLex,
      FusionGate.fuseIds(lexScored.map(_._1), vecIds, wLex).take(topK))
  }

  /** Shared IVF+codes search: load quantizer + codebook sidecar, verify
    * the index's stamped fingerprint (the torn-rewrite guard — index and
    * sidecar are separate artifacts, so no write order makes their rewrite
    * atomic; the embedded hash turns a crash between the two into a hard
    * error, including same-shape codebook drift the m-check would miss),
    * then nprobe-pruned lists → ADC scan over codes → exact re-rank.
    */
  private def quantizedSearch(spark: org.apache.spark.sql.SparkSession,
      tablesDir: String, query: String, rest: List[String],
      indexName: String, cbName: String, reindexCmd: String): Unit = {
    val topK = intArg(rest, 0, 10)
    val nprobe = intArg(rest, 1, 2)
    val shortlist = intArg(rest, 2, 100)
    // optional metadata filter: eligibility applies BEFORE the ADC
    // shortlist (filter-before-rank, same contract as the other index
    // search verbs)
    val view = optArg(rest, 3)
    val q = graft.search.Ivf.load(s"$tablesDir/ivf_quantizer.txt")
    val cb = graft.search.Pq.load(s"$tablesDir/$cbName")
    val index = spark.read.parquet(s"$tablesDir/$indexName")
    // a pre-fingerprint index would otherwise die in an opaque
    // UNRESOLVED_COLUMN analysis error instead of the actionable message
    require(index.schema.fieldNames.contains("pq_cb_hash"),
      s"index $indexName has no pq_cb_hash column (written before " +
        s"fingerprinting); re-run $reindexCmd")
    require(!index.isEmpty,
      s"index $indexName is empty; re-run $reindexCmd (or ingest first)")
    val head = index.select(col("pq_code"), col("pq_cb_hash")).head()
    val sampleCode = head.getAs[Array[Byte]](0)
    require(sampleCode.length == cb.m,
      s"index codes have m=${sampleCode.length} but codebook has m=${cb.m}; " +
        s"re-run $reindexCmd")
    require(head.getLong(1) == graft.search.Pq.contentHash(cb),
      s"index pq_cb_hash does not match the codebook sidecar (torn " +
        s"$reindexCmd rewrite?); re-run $reindexCmd")
    val qvec = new OfflineEmbedder(q.dim).embedQuery(query)
    val hits = graft.search.Pq
      .searchIvfPq(index, qvec, q, cb, topK, nprobe, shortlist,
        tieBreak = "fragment_id",
        predicate = view.map(v => col("view") === v))
      // replica dedupe derives from the quantizer sidecar inside
      // searchIvfPq (multi-assigned index -> collapse before top-k)
      .select(col("fragment_id"), col("view"), col("similarity"))
      .collect()
    printRowHits(hits)
  }

  /** (fragment_id, similarity) hit formatter for the graph search
    * commands. */
  private def printDenseHits(hits: Seq[(String, Double)]): Unit =
    hits.zipWithIndex.foreach { case ((id, sim), i) =>
      println(f"#${i + 1}%-3d sim=$sim%.4f $id")
    }

  /** Shared (fragment_id, view, similarity) hit formatter for the ANN
    * search commands.
    */
  private def printRowHits(hits: Array[org.apache.spark.sql.Row]): Unit =
    hits.zipWithIndex.foreach { case (h, i) =>
      println(f"#${i + 1}%-3d sim=${h.getDouble(2)}%.4f " +
        s"[${h.getString(1)}] ${h.getString(0)}")
    }
}
