package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.media.MediaPipeline
import graft.search.{Ann, Hnsw, Ivf, Pq, VectorSearch}

/** Multimodal plumbing + ANN index catalog entries.
  *
  * m1 runs the full binary-column feature-extraction pipeline (documents
  * wrapped as fake media bytes → mapPartitions decode) and carries an exact
  * DuckDB oracle because the stub decoder derives every feature from md5 /
  * byte length.
  *
  * v5 runs the LSH ANN index end-to-end (build → multi-probe search) and
  * reports recall against the exact scan — a self-checking query (no SQL
  * oracle; the plan includes the deterministic plane literals).
  */
object MediaQueries {

  type Q = (SparkSession, String) => DataFrame

  // ---- write-time ANN index tables (VERDICT r10 task #7) ----
  // Each index TABLE reads through to a persisted parquet copy under
  // the stage-cache root (`Cli index-sketches` / the bench read-through
  // pass): at 100 TB the corpus-wide assign/encode/graph-build scan is
  // write-time cost, paid once per corpus write, while a serving query
  // pays only deterministic quantizer training on a FIXED 1024-row
  // sample (driver-side, sub-second) plus the pruned probe. ONE
  // builder per table, shared by the queries and
  // [[WriteTimeTables.persistAll]], so the persisted copy can never
  // drift from the recompute; ONE family fingerprint pinning the
  // sample rule and every trainer/build constant (coarse on purpose —
  // changing any constant invalidates the whole index set).

  // the trainer/build constants, named ONCE and interpolated into the
  // fingerprint below — a constant edit that forgot the fingerprint
  // would serve a stale persisted index as fresh
  private[queries] val AnnSampleN = 1024
  private[queries] val IvfK = 16
  private[queries] val IvfItersFull = 10 // v6's trainer
  private[queries] val IvfItersPq = 5 // v9's trainer
  private[queries] val PqM = 8
  private[queries] val PqKsub = 16
  private[queries] val HnswShards = 4
  private[queries] val HnswM = 16
  private[queries] val HnswEfc = 200
  private[queries] val HnswIdFmt = "v%08d"

  private def embT(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("vector"))

  // ---- v5–v9 oracle artifacts (VERDICT r13 task 4): each recall query
  // persists its trained object keyed by the embeddings-corpus
  // fingerprint, and the DuckDB oracle independently replays assignment
  // / encoding / ADC scoring / ranking / recall arithmetic from those
  // floats — see [[OracleArtifact]]. Training determinism is the Ivf/
  // Pq/Sq specs' job; everything downstream is now hash-gated.
  private[queries] val V5PlanesDir = "localdata/v5-planes"
  private[queries] val V6CentroidDir = "localdata/v6-centroids"
  private[queries] val V7CodebookDir = "localdata/v7-codebook"
  private[queries] val V8CodebookDir = "localdata/v8-codebook"
  private[queries] val V9CentroidDir = "localdata/v9-centroids"
  private[queries] val V23ResCbDir = "localdata/v23-rescodebook"

  /** Session-memoized exact integer fingerprint of the embeddings corpus
    * (the g6 recipe — [[SamplingQueries.g6CorpusFp]]): one Spark job per
    * corpus, guarded by the source files' stat fingerprint. */
  private[queries] def embCorpusFp(s: SparkSession, dir: String): Long =
    StageCache.memo(s, s"emb_corpus_fp:$dir", StageCache.sourceFingerprint(
        Seq(s"$dir/embeddings.parquet"), "g6")) {
      SamplingQueries.g6CorpusFp(Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding")))
    }

  private def writeCentroidArtifact(s: SparkSession, dir: String,
      q: Ivf.Quantizer, artDir: String): Unit = {
    import s.implicits._
    val fp = embCorpusFp(s, dir)
    OracleArtifact.write(s, (0 until q.k)
      .map(c => (fp, c.toLong, q.centroid(c).toSeq))
      .toDF("corpus_fp", "cid", "cvec"), artDir)
  }

  private def writeCodebookArtifact(s: SparkSession, dir: String,
      cb: Pq.Codebook, artDir: String): Unit = {
    import s.implicits._
    val fp = embCorpusFp(s, dir)
    OracleArtifact.write(s, (for {
      j <- 0 until cb.m; c <- 0 until cb.ksub
    } yield (fp, j.toLong, c.toLong, cb.codeword(j, c).toSeq))
      .toDF("corpus_fp", "j", "c", "cw"), artDir)
  }

  private def writePlanesArtifact(s: SparkSession, dir: String,
      planes: graft.search.Ann.Planes, artDir: String): Unit = {
    import s.implicits._
    val fp = embCorpusFp(s, dir)
    OracleArtifact.write(s, planes.values.zipWithIndex
      .map { case (pl, p) => (fp, p.toLong, pl.toSeq) }.toSeq
      .toDF("corpus_fp", "p", "plane"), artDir)
  }

  // ---- trained-object freshness-skip (VERDICT r14 task 4): the oracle
  // artifact doubles as the trained object's persisted form (exact
  // floats), so a warm pass LOADS it back instead of re-collecting the
  // training sample, retraining, and rewriting the partition on every
  // execution — the WriteTimeTables fingerprint-guard discipline applied
  // to the v5–v9 family. Freshness = this corpus_fp's partition exists
  // AND its `_knobs_<fp>.txt` sidecar (leading `_`: invisible to both
  // Spark's file index and the oracle's */*.parquet glob) records the
  // same training knobs; the sidecar is deleted before a rebuild and
  // written after it, so a torn write degrades to retrain-next-run,
  // never to serving mismatched floats. Values round-trip bit-exactly
  // (parquet float/double), so artifacts are byte-identical whether a
  // pass trained or loaded.

  private def acquireTrained[T](s: SparkSession, artDir: String,
      dir: String, knobs: String)(train: => T)(write: T => Unit)(
      load: Long => T): T = {
    val fp = embCorpusFp(s, dir)
    StageCache.memo(s, s"trained:$artDir", s"$fp|$knobs") {
      val sidecar = new java.io.File(artDir, s"_knobs_$fp.txt")
      val part = new java.io.File(artDir, s"corpus_fp=$fp")
      val fresh = sidecar.isFile && part.isDirectory &&
        new String(java.nio.file.Files.readAllBytes(sidecar.toPath),
          "UTF-8") == knobs
      if (fresh) load(fp)
      else {
        java.nio.file.Files.deleteIfExists(sidecar.toPath)
        val t0 = train
        write(t0)
        java.nio.file.Files.write(sidecar.toPath, knobs.getBytes("UTF-8"))
        t0
      }
    }
  }

  private[queries] def loadCentroidArtifact(s: SparkSession, artDir: String,
      fp: Long): Ivf.Quantizer = {
    import s.implicits._
    val rows = s.read.parquet(artDir)
      .filter(col("corpus_fp") === fp)
      .select(col("cid").cast("long"), col("cvec"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    Ivf.Quantizer(rows.length, rows.head._2.length,
      rows.flatMap(_._2).toArray)
  }

  private[queries] def loadCodebookArtifact(s: SparkSession, artDir: String,
      fp: Long): Pq.Codebook = {
    import s.implicits._
    val rows = s.read.parquet(artDir)
      .filter(col("corpus_fp") === fp)
      .select(col("j").cast("long"), col("c").cast("long"), col("cw"))
      .as[(Long, Long, Seq[Float])].collect().sortBy(r => (r._1, r._2))
    // flat layout: subcentroid (j, c) at ((j*ksub)+c)*dsub — exactly the
    // (j, c)-ascending concatenation
    Pq.Codebook(rows.map(_._1).max.toInt + 1, rows.map(_._2).max.toInt + 1,
      rows.head._3.length, rows.flatMap(_._3).toArray)
  }

  private[queries] def loadPlanesArtifact(s: SparkSession, artDir: String,
      fp: Long, seed: Long): graft.search.Ann.Planes = {
    import s.implicits._
    val rows = s.read.parquet(artDir)
      .filter(col("corpus_fp") === fp)
      .select(col("p").cast("long"), col("plane"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    graft.search.Ann.Planes(seed, rows.head._2.length, rows.length,
      rows.map(_._2.toArray).toArray)
  }

  /** Artifact CTE: trained rows for THIS corpus. */
  private def artifactCte(artDir: String, cols: String): String =
    s"""SELECT $cols FROM read_parquet(
       |    ${OracleArtifact.duckGlob(artDir)}, hive_partitioning=1)
       |  WHERE CAST(corpus_fp AS BIGINT) =
       |    ${SamplingQueries.duckEmbCorpusFp}""".stripMargin

  /** Double-fold Σ over a generated per-element list expression — the
    * left-to-right fold every pinned float recipe uses. */
  private def duckFold(elems: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, $elems), (acc, x) -> acc + x)"

  /** [[graft.search.Ivf]]'s sqDist: Σ (a_i − b_i)² over double-cast
    * floats, i ascending. */
  private def duckSqd(a: String, b: String): String =
    duckFold(s"list_transform(range(1, len($a)+1), " +
      s"i -> ($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE))")

  private[queries] def trainSample(s: SparkSession, dir: String)
      : Array[Array[Float]] = {
    import s.implicits._
    embT(s, dir).orderBy(col("vec_id")).limit(AnnSampleN)
      .select(col("vector")).as[Seq[Float]].collect().map(_.toArray)
  }

  def annIndexFingerprint(dir: String): Option[String] =
    Some(StageCache.sourceFingerprint(Seq(s"$dir/embeddings.parquet"),
      s"annidx|sample=$AnnSampleN,vec_id|ivf:k=$IvfK,iters=$IvfItersFull" +
        s"|pq:m=$PqM,ksub=$PqKsub|sq:8bit" +
        s"|ivfpq:k=$IvfK,iters=$IvfItersPq,m=$PqM,ksub=$PqKsub" +
        s"|ivfpqres:res-trained-cb,v1" +
        s"|hnsw:shards=$HnswShards,m=$HnswM,efc=$HnswEfc,id=$HnswIdFmt" +
        ",vh2")) // vh2: adjacency stamps vec_hash (raw-vector FNV)

  // each builder has a quantizer-taking overload so a query that has
  // ALREADY trained (it needs the quantizer probe-side regardless)
  // does not pay a second sample collect + trainer run on a cache
  // miss; the no-arg forms are WriteTimeTables' deferred builders

  private[queries] def buildIvfIndex(s: SparkSession, dir: String,
      q: Ivf.Quantizer): DataFrame = Ivf.buildIndex(embT(s, dir), q)

  private[queries] def buildIvfIndex(s: SparkSession, dir: String): DataFrame =
    buildIvfIndex(s, dir, Ivf.train(trainSample(s, dir), IvfK,
      iters = IvfItersFull))

  private[queries] def buildPqIndex(s: SparkSession, dir: String,
      cb: Pq.Codebook): DataFrame = Pq.encode(embT(s, dir), cb)

  private[queries] def buildPqIndex(s: SparkSession, dir: String): DataFrame =
    buildPqIndex(s, dir, Pq.train(trainSample(s, dir), m = PqM, ksub = PqKsub))

  private[queries] def buildSqIndex(s: SparkSession, dir: String,
      cb: Pq.Codebook): DataFrame = Pq.encode(embT(s, dir), cb)

  private[queries] def buildSqIndex(s: SparkSession, dir: String): DataFrame =
    buildSqIndex(s, dir, graft.search.Sq.train(trainSample(s, dir)))

  private[queries] def buildIvfPqIndex(s: SparkSession, dir: String,
      q: Ivf.Quantizer, cb: Pq.Codebook): DataFrame =
    Pq.encode(Ivf.buildIndex(embT(s, dir), q), cb)

  private[queries] def buildIvfPqIndex(s: SparkSession, dir: String): DataFrame = {
    val sm = trainSample(s, dir)
    buildIvfPqIndex(s, dir, Ivf.train(sm, IvfK, iters = IvfItersPq),
      Pq.train(sm, m = PqM, ksub = PqKsub))
  }

  private[queries] def buildIvfPqResIndex(s: SparkSession, dir: String,
      q: Ivf.Quantizer, cb: Pq.Codebook): DataFrame =
    Pq.encodeResidual(Ivf.buildIndex(embT(s, dir), q), q, cb)

  private[queries] def buildIvfPqResIndex(s: SparkSession, dir: String)
      : DataFrame = {
    val sm = trainSample(s, dir)
    val q = Ivf.train(sm, IvfK, iters = IvfItersPq)
    buildIvfPqResIndex(s, dir, q, Pq.trainResidual(sm, q, PqM, PqKsub))
  }

  private[queries] def buildHnswIndex(s: SparkSession, dir: String): DataFrame =
    Hnsw.buildIndexTable(
      embT(s, dir).select(
        format_string(HnswIdFmt, col("vec_id")).as("vec_id"), col("vector")),
      numShards = HnswShards, m = HnswM, efConstruction = HnswEfc,
      idCol = "vec_id")

  /** Deferred builders, keyed like the queries' getOrCache calls.
    * Thunks, not plans: building trains a quantizer (a sample collect),
    * which a freshness-skip must not pay. */
  def annIndexStages(dir: String)
      : Seq[(String, SparkSession => DataFrame)] = Seq(
    (s"ivf_index:$dir", buildIvfIndex(_, dir)),
    (s"pq_index:$dir", buildPqIndex(_, dir)),
    (s"sq_index:$dir", buildSqIndex(_, dir)),
    (s"ivfpq_index:$dir", buildIvfPqIndex(_, dir)),
    (s"ivfpq_res_index:$dir", buildIvfPqResIndex(_, dir)),
    (s"hnsw_index:$dir", buildHnswIndex(_, dir)))

  private val m1Features: Q = (s, dir) => {
    val media = MediaPipeline.mediaFromDocuments(Tables.documents(s, dir))
    MediaPipeline.extractFeatures(media).toDF()
      .select(col("media_id"), col("kind"), col("byte_len"),
        col("content_hash"), col("header_hex"), col("width"), col("height"),
        col("n_frames"))
      .orderBy(col("media_id"))
  }

  private val m1Sql =
    """SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image'
      |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      |  octet_length(encode(text)) AS byte_len,
      |  md5(text) AS content_hash,
      |  substr(hex(encode(text)), 1, 8) AS header_hex,
      |  16 + (CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 1024) AS width,
      |  16 + (CAST('0x' || substr(md5(text), 5, 4) AS BIGINT) % 1024) AS height,
      |  CASE WHEN doc_id % 3 = 2 THEN 1 + (ascii(substr(md5(text), 9, 1)) & 15) ELSE 1 END AS n_frames
      |FROM documents ORDER BY media_id""".stripMargin

  // m2 — frame sampling + resize: decode → uniform-stride sample (≤4
  // frames/video) → aspect-preserving fit into a 224² box, per-frame
  // content hash. Pure integer arithmetic + md5 ⇒ exact DuckDB oracle.
  private val m2Frames: Q = (s, dir) => {
    val media = MediaPipeline.mediaFromDocuments(Tables.documents(s, dir))
    MediaPipeline.sampleFrames(MediaPipeline.extractFeatures(media).toDF())
      .orderBy(col("media_id"), col("frame_idx"))
  }

  private val m2Sql =
    """WITH f AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      |    md5(text) AS content_hash,
      |    16 + (CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 1024) AS width,
      |    16 + (CAST('0x' || substr(md5(text), 5, 4) AS BIGINT) % 1024) AS height,
      |    CASE WHEN doc_id % 3 = 2 THEN 1 + (ascii(substr(md5(text), 9, 1)) & 15) ELSE 1 END AS n_frames
      |  FROM documents),
      |u AS (
      |  SELECT media_id, kind, content_hash, width, height,
      |    unnest(range(0, n_frames, (n_frames + 3) // 4)) AS frame_idx
      |  FROM f)
      |SELECT media_id, kind, CAST(frame_idx AS BIGINT) AS frame_idx,
      |  md5(content_hash || ':' || frame_idx) AS frame_hash,
      |  CAST(greatest(1, (width * 224) // greatest(width, height)) AS BIGINT) AS out_w,
      |  CAST(greatest(1, (height * 224) // greatest(width, height)) AS BIGINT) AS out_h
      |FROM u ORDER BY media_id, frame_idx""".stripMargin

  // m3 — REAL raster decode (VERDICT r7 task #3): a deterministic
  // synthetic JPEG per document (dims are pure doc_id arithmetic), decoded
  // back through javax.imageio inside the scan-stage mapPartitions. The
  // DuckDB oracle recomputes the expected dimensions independently, so a
  // hash match proves the encode→decode round-trip recovered the true
  // raster geometry — dims and channel count survive JPEG exactly even
  // though pixels are lossy. Scale shape: bytes live for one row inside
  // the partition iterator; only (id, w, h, c) rows flow out.
  private val m3JpegDecode: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = 16 + (id % 40).toInt
        val h = 12 + ((id * 7) % 40).toInt
        val dec = graft.media.ImageCodec
          .decode(graft.media.ImageCodec.syntheticJpeg(w, h, id))
        (id, dec.map(_.width.toLong).getOrElse(-1L),
          dec.map(_.height.toLong).getOrElse(-1L),
          dec.map(_.channels.toLong).getOrElse(-1L))
      })
      .toDF("media_id", "width", "height", "channels")
      .orderBy(col("media_id"))
  }

  private val m3Sql =
    """SELECT doc_id AS media_id,
      |  CAST(16 + doc_id % 40 AS BIGINT) AS width,
      |  CAST(12 + (doc_id * 7) % 40 AS BIGINT) AS height,
      |  CAST(3 AS BIGINT) AS channels
      |FROM documents ORDER BY media_id""".stripMargin

  // v5 — ANN self-check: multi-probe LSH search vs exact scan, one row per
  // probe depth (0 = single bucket, 1 = +1-bit flips, 2 = +2-bit flips) —
  // the recall/scan-cost tradeoff curve. Deterministic (seeded planes,
  // fixed query); PlanShapeSpec asserts recall/scan monotonicity in depth.
  /** One-job probe evaluation shared by v5/v6: collect each group's exact
    * top-10 + group size, then answer every probe set on the driver (the
    * global top-10 over any union of groups is the top-10 of the union of
    * per-group top-10s — [[graft.search.VectorSearch.topKPerGroup]]).
    */
  private def probeCurve(index: DataFrame, query: Array[Float],
      groupCol: String, probes: Seq[(Int, Set[Int])]): Seq[(Int, Double, Long, Long, Double)] = {
    val cand = graft.search.VectorSearch
      .topKPerGroup(index, query, 10, groupCol, tieBreak = "vec_id")
      .select(col(groupCol).cast("int"), col("vec_id").cast("long"),
        col("similarity"), col("group_size").cast("long"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val sizeOf = cand.map(c => c._1 -> c._4).toMap
    val total = sizeOf.values.sum
    def top10(groups: Set[Int]): Set[Long] =
      cand.filter(c => groups(c._1)).sortBy(c => (-c._3, c._2))
        .take(10).map(_._2).toSet
    val exact = top10(sizeOf.keySet)
    probes.map { case (label, groups) =>
      val approx = top10(groups)
      val scanned = groups.toSeq.map(g => sizeOf.getOrElse(g, 0L)).sum
      (label, exact.intersect(approx).size.toDouble / exact.size,
        scanned, total, scanned.toDouble / total)
    }
  }

  private val v5AnnRecall: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("vector"))
    val dim = e.head().getAs[scala.collection.Seq[Float]]("vector").length
    val planes = acquireTrained(s, V5PlanesDir, dir,
      s"lsh,planes=6,dim=$dim,seed=42")(
      Ann.makePlanes(dim, numPlanes = 6))(
      writePlanesArtifact(s, dir, _, V5PlanesDir))(
      loadPlanesArtifact(s, V5PlanesDir, _, seed = 42L))
    val index = Ann.buildIndex(e, planes)
    val query = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("vector").toArray
    val qb = Ann.bucketOf(query, planes)
    val probes = (0 to 2).map(d =>
      d -> Ann.probeBuckets(qb, planes, d).toSet)
    probeCurve(index, query, "bucket", probes)
      .toDF("probe_depth", "recall_at_10", "rows_scanned", "rows_total",
        "scan_fraction")
  }

  // v6 — IVF ANN self-check: k-means coarse quantizer (the pgvector-IVFFlat
  // analog) trained on a deterministic sample, nearest-list assignment via
  // the codegen'd IvfAssign, nprobe-pruned exact re-rank. One row per
  // nprobe; probing all k lists degenerates to the exact scan, so the last
  // row's recall is 1.0 by construction — a built-in exactness witness.
  private val v6IvfRecall: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("vector"))
    val k = IvfK
    val q = acquireTrained(s, V6CentroidDir, dir,
      s"ivf,k=$k,iters=$IvfItersFull,sample=$AnnSampleN")(
      Ivf.train(trainSample(s, dir), k, iters = IvfItersFull))(
      writeCentroidArtifact(s, dir, _, V6CentroidDir))(
      loadCentroidArtifact(s, V6CentroidDir, _))
    // the corpus-wide assign scan is a write-time table; the query pays
    // training on the fixed sample (deterministic — the same q the
    // persisted table was built with) plus the pruned probe. The
    // already-trained q rides into the builder: a cache miss must not
    // train twice
    val index = StageCache.getOrCache(s, s"ivf_index:$dir",
      annIndexFingerprint(dir))(buildIvfIndex(s, dir, q))
    val query = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("vector").toArray
    val probes = Seq(1, 2, 4, k).map(np =>
      np -> Ivf.nearestLists(query, q, np).toSet)
    probeCurve(index, query, "list_id", probes)
      .toDF("nprobe", "recall_at_10", "rows_scanned", "rows_total",
        "scan_fraction")
  }

  // v7 — product-quantization self-check: 32× compressed ADC scan, recall
  // vs the exact scan for ADC-only / shortlist-re-ranked variants. The
  // rerank_all row re-ranks every row exactly, so its recall is 1.0 by
  // construction (the same exactness witness pattern as v6's full probe).
  private val v7PqRecall: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("vector"))
    val cb = acquireTrained(s, V7CodebookDir, dir,
      s"pq,m=$PqM,ksub=$PqKsub,sample=$AnnSampleN")(
      Pq.train(trainSample(s, dir), m = PqM, ksub = PqKsub))(
      writeCodebookArtifact(s, dir, _, V7CodebookDir))(
      loadCodebookArtifact(s, V7CodebookDir, _))
    val index = StageCache.getOrCache(s, s"pq_index:$dir",
      annIndexFingerprint(dir))(buildPqIndex(s, dir, cb))
    val query = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("vector").toArray
    val exact = graft.search.VectorSearch
      .knn(e, query, 10, vectorCol = "vector", tieBreak = "vec_id")
      .select(col("vec_id")).as[Long].collect().toSet
    def recall(df: DataFrame): Double =
      df.select(col("vec_id")).as[Long].collect().toSet
        .intersect(exact).size.toDouble / exact.size
    val adcOnly = index
      .withColumn("adc_score", Pq.adcCosine(col("pq_code"), query, cb))
      .orderBy(col("adc_score").desc, col("vec_id")).limit(10)
    val rerank50 = Pq.searchCosine(index, query, cb, 10,
      shortlist = 50, tieBreak = "vec_id")
    val nRows = e.count().toInt
    val rerankAll = Pq.searchCosine(index, query, cb, 10,
      shortlist = nRows, tieBreak = "vec_id")
    val ratio = cb.dim * 4.0 / cb.m // float bytes vs one byte per code
    Seq(
      ("adc_only", recall(adcOnly), 10L, ratio),
      ("rerank_50", recall(rerank50), 50L, ratio),
      ("rerank_all", recall(rerankAll), nRows.toLong, ratio))
      .toDF("variant", "recall_at_10", "shortlist", "compression_ratio")
  }

  // v9 — IVFPQ composition self-check: the 100 TB search shape end to
  // end. IVF decides WHICH rows to scan (nprobe-pruned list partitions),
  // PQ shrinks WHAT the scan reads (byte codes for ADC scoring), and an
  // exact re-rank of the shortlist finishes. Per probe depth the query
  // reports recall@10 vs the exact scan and the scanned-row fraction.
  // Scan fraction is monotone in nprobe; recall at a FIXED shortlist is
  // not — probing all lists admits every ADC-distortion distractor into
  // the 50-row shortlist and converges exactly to flat PQ (v7's
  // rerank_50), while a tight probe pre-filters distractors by true
  // geometry (measured at sf0.01: nprobe 1/4/16 → recall 0.9/1.0/0.7
  // at 7%/26%/100% scan; 0.7 = v7's flat rerank_50). That interplay —
  // shortlist must grow with probed volume — is the real IVFPQ tuning
  // rule, and this query is the regression guard that documents it.
  // Training is deterministic (seedless k-means over a sorted sample),
  // so the driver's rows-only check is stable.
  private val v9IvfPqRecall: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("vector"))
    // the sample collects only when at least one trained object misses
    lazy val sample = trainSample(s, dir)
    val q = acquireTrained(s, V9CentroidDir, dir,
      s"ivf,k=$IvfK,iters=$IvfItersPq,sample=$AnnSampleN")(
      Ivf.train(sample, k = IvfK, iters = IvfItersPq))(
      writeCentroidArtifact(s, dir, _, V9CentroidDir))(
      loadCentroidArtifact(s, V9CentroidDir, _))
    // the codebook derivation is v7's exactly — same artifact contents,
    // built (or loaded) by whichever of the two runs first
    val cb = acquireTrained(s, V7CodebookDir, dir,
      s"pq,m=$PqM,ksub=$PqKsub,sample=$AnnSampleN")(
      Pq.train(sample, m = PqM, ksub = PqKsub))(
      writeCodebookArtifact(s, dir, _, V7CodebookDir))(
      loadCodebookArtifact(s, V7CodebookDir, _))
    val index = StageCache.getOrCache(s, s"ivfpq_index:$dir",
      annIndexFingerprint(dir))(buildIvfPqIndex(s, dir, q, cb))
    val query = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("vector").toArray
    val exact = graft.search.VectorSearch
      .knn(e, query, 10, vectorCol = "vector", tieBreak = "vec_id")
      .select(col("vec_id")).as[Long].collect().toSet
    val n = e.count().toDouble
    val rows = Seq(1, 4, 16).map { nprobe =>
      val lists = Ivf.nearestLists(query, q, nprobe)
      val probed = index.filter(col("list_id").isin(lists: _*))
      val hits = Pq.searchCosine(probed, query, cb, 10,
          shortlist = 50, tieBreak = "vec_id")
        .select(col("vec_id")).as[Long].collect().toSet
      (nprobe.toLong, hits.intersect(exact).size.toDouble / exact.size,
        probed.count() / n)
    }
    rows.toDF("nprobe", "recall_at_10", "scan_fraction")
  }

  // v23 — RESIDUAL IVFPQ (the FAISS IndexIVFPQ default, by_residual):
  // PQ codes quantize `vector − centroid[list_id]` instead of the raw
  // vector, and the ADC reconstructs `centroid + codeword` per probed
  // list (per-list LUT constants fold the cross terms — Pq.
  // residualAdcCosine). Same code bytes as v9's plain IVFPQ; the output
  // compares recall@10 of both variants at equal (nprobe, shortlist)
  // budgets, plus the exactness witness every compressed search carries:
  // full probe + corpus-sized shortlist ⇒ exact KNN (the re-rank reads
  // raw vectors, so approximation only ever shapes the shortlist).
  // DuckDB-oracled since r15 (the v5–v9 conversion recipe): the trained
  // quantizer/codebooks are corpus-fp-keyed artifacts (the q/cbPlain
  // derivations are bit-identical to v9/v7's, so those artifacts are
  // SHARED; the residual codebook gets its own), and the oracle replays
  // coarse assignment, residual encoding (float residual per
  // IvfResidual's exact arithmetic — double-rounding through REAL is
  // innocuous at 53 ≥ 2·24+2 bits), per-list reconstructed-vector ADC
  // (qc/cn list constants + 2·dcc + |cw|² LUTs, the residualAdcCosine
  // fold shapes), shortlist re-rank and recall arithmetic — hash-exact.
  private val v23IvfPqResidual: Q = (s, dir) => {
    import s.implicits._
    val e = embT(s, dir)
    lazy val sm = trainSample(s, dir)
    val q = acquireTrained(s, V9CentroidDir, dir,
      s"ivf,k=$IvfK,iters=$IvfItersPq,sample=$AnnSampleN")(
      Ivf.train(sm, k = IvfK, iters = IvfItersPq))(
      writeCentroidArtifact(s, dir, _, V9CentroidDir))(
      loadCentroidArtifact(s, V9CentroidDir, _))
    val cbPlain = acquireTrained(s, V7CodebookDir, dir,
      s"pq,m=$PqM,ksub=$PqKsub,sample=$AnnSampleN")(
      Pq.train(sm, m = PqM, ksub = PqKsub))(
      writeCodebookArtifact(s, dir, _, V7CodebookDir))(
      loadCodebookArtifact(s, V7CodebookDir, _))
    val cbRes = acquireTrained(s, V23ResCbDir, dir,
      s"pqres,m=$PqM,ksub=$PqKsub,sample=$AnnSampleN," +
        s"ivf=k$IvfK-i$IvfItersPq")(
      Pq.trainResidual(sm, q, m = PqM, ksub = PqKsub))(
      writeCodebookArtifact(s, dir, _, V23ResCbDir))(
      loadCodebookArtifact(s, V23ResCbDir, _))
    val plainIdx = StageCache.getOrCache(s, s"ivfpq_index:$dir",
      annIndexFingerprint(dir))(buildIvfPqIndex(s, dir, q, cbPlain))
    val resIdx = StageCache.getOrCache(s, s"ivfpq_res_index:$dir",
      annIndexFingerprint(dir))(buildIvfPqResIndex(s, dir, q, cbRes))
    val query = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("vector").toArray
    val exact = graft.search.VectorSearch
      .knn(e, query, 10, vectorCol = "vector", tieBreak = "vec_id")
      .select(col("vec_id")).as[Long].collect().toSet
    def recall(df: DataFrame): Double =
      df.select(col("vec_id")).as[Long].collect().toSet
        .intersect(exact).size.toDouble / exact.size
    val n = e.count().toInt
    // r16 (guide §2.6): the five recall legs are independent bounded
    // searches over the shared cached indexes/artifacts (read-only, no
    // session-conf mutation) — overlap them instead of paying five
    // sequential job latencies. Results keep the input order; output is
    // sorted anyway.
    val legs: Seq[() => (String, Long, Double)] = Seq(1, 4).flatMap { np =>
      Seq(
        () => ("plain", np.toLong, recall(Pq.searchIvfPq(plainIdx, query,
          q, cbPlain, 10, nprobe = np, shortlist = 50,
          tieBreak = "vec_id"))),
        () => ("residual", np.toLong, recall(Pq.searchIvfPqResidual(
          resIdx, query, q, cbRes, 10, nprobe = np, shortlist = 50,
          tieBreak = "vec_id"))))
    } :+ (() => ("rerank_all", IvfK.toLong, recall(Pq.searchIvfPqResidual(
      resIdx, query, q, cbRes, 10, nprobe = IvfK, shortlist = n,
      tieBreak = "vec_id"))))
    val rows = Overlap.all(legs)
    rows.toDF("variant", "nprobe", "recall_at_10")
      .orderBy(col("variant"), col("nprobe"))
  }

  // v8 — scalar-quantization (SQ8) self-check: 4× compressed per-dimension
  // byte codes ([[graft.search.Sq]] — a uniform-grid PQ codebook shape, so
  // encode/ADC/search reuse the PQ machinery and its vector-free scan).
  // Far less distortion than PQ's 32×: the adc_only row typically already
  // recovers the exact top-10; rerank_all is 1.0 by construction — the
  // same exactness witness as v6's full probe and v7's rerank_all.
  private val v8SqRecall: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("vector"))
    val cb = acquireTrained(s, V8CodebookDir, dir,
      s"sq,levels=256,sample=$AnnSampleN")(
      graft.search.Sq.train(trainSample(s, dir)))(
      writeCodebookArtifact(s, dir, _, V8CodebookDir))(
      loadCodebookArtifact(s, V8CodebookDir, _))
    val index = StageCache.getOrCache(s, s"sq_index:$dir",
      annIndexFingerprint(dir))(buildSqIndex(s, dir, cb))
    val query = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("vector").toArray
    val exact = graft.search.VectorSearch
      .knn(e, query, 10, vectorCol = "vector", tieBreak = "vec_id")
      .select(col("vec_id")).as[Long].collect().toSet
    def recall(df: DataFrame): Double =
      df.select(col("vec_id")).as[Long].collect().toSet
        .intersect(exact).size.toDouble / exact.size
    val adcOnly = index
      .withColumn("adc_score", Pq.adcCosine(col("pq_code"), query, cb))
      .orderBy(col("adc_score").desc, col("vec_id")).limit(10)
    val rerank50 = Pq.searchCosine(index, query, cb, 10,
      shortlist = 50, tieBreak = "vec_id")
    val nRows = e.count().toInt
    val rerankAll = Pq.searchCosine(index, query, cb, 10,
      shortlist = nRows, tieBreak = "vec_id")
    val ratio = 4.0 // d floats → d bytes
    Seq(
      ("adc_only", recall(adcOnly), 10L, ratio),
      ("rerank_50", recall(rerank50), 50L, ratio),
      ("rerank_all", recall(rerankAll), nRows.toLong, ratio))
      .toDF("variant", "recall_at_10", "shortlist", "compression_ratio")
  }

  // v10 — HNSW graph-ANN self-check: shard-local deterministic HNSW
  // graphs ([[graft.search.Hnsw]] — the reference's primary index class,
  // pgvector HNSW, storage/schema.py:78-84) + global top-k merge, recall
  // vs the exact batch scan per beam width. The last row runs ef = n ≥
  // every shard size: the beam never fills, the spine-connected graph is
  // fully traversed, and the search IS the exact scan — recall 1.0 by
  // construction (same witness pattern as v6 full-probe / v7 rerank_all).
  private val v10HnswRecall: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(format_string("v%08d", col("vec_id")).as("vec_id"),
        col("embedding").as("vector"))
    val n = e.count().toInt
    val queries = e.orderBy(col("vec_id")).limit(5)
      .as[(String, Array[Float])].collect().toSeq
    val qDf = queries.toDF("query_id", "query_vector")
    def topSets(df: DataFrame): Map[String, Set[String]] =
      df.select(col("query_id"), col("vec_id")).as[(String, String)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = topSets(VectorSearch.batchKnn(e, qDf, 10, tieBreak = "vec_id"))
    // build the shard graphs ONCE (the adjacency-table form) and answer
    // every beam width off the restored graphs — searchIndex ≡
    // searchBatch at equal ef is spec-pinned (HnswPersistSpec), so this
    // is the same query three builds cheaper
    val indexTable = StageCache.getOrCache(s, s"hnsw_index:$dir",
      annIndexFingerprint(dir))(buildHnswIndex(s, dir))
    Seq(8, 24, n).distinct.map { ef =>
      val hits = topSets(Hnsw.searchIndex(indexTable, queries, 10, ef,
        idCol = "vec_id"))
      val rec = queries.map { case (qid, _) =>
        val t = exact(qid)
        hits.getOrElse(qid, Set.empty).intersect(t).size.toDouble / t.size
      }
      (ef.toLong, rec.sum / rec.size)
    }.toDF("ef", "recall_at_10")
  }

  val defs: Map[String, Q] = Map(
    "v10_hnsw_recall" -> v10HnswRecall,
    "v8_sq_recall" -> v8SqRecall,
    "v9_ivfpq_recall" -> v9IvfPqRecall,
    "v23_ivfpq_residual" -> v23IvfPqResidual,
    "m1_media_features" -> m1Features,
    "m2_frame_sample" -> m2Frames,
    "m3_jpeg_decode" -> m3JpegDecode,
    "v5_ann_recall" -> v5AnnRecall,
    "v6_ivf_recall" -> v6IvfRecall,
    "v7_pq_recall" -> v7PqRecall)

  // ---- v5–v9 oracle SQL: every recall number independently replayed
  // from the persisted trained artifacts (see the artifact section
  // above). Shared shape: `exact` is the corpus-wide cosine top-10 (the
  // v1 bit-exact recipe), each probe/variant ranks its own candidate
  // set with the identical (score DESC, vec_id) tie rule, and
  // recall/scan numbers are ratios of exact integers.

  private val v6Sql = {
    val cos = VectorQueries.duckCosine("e.embedding", "q.qv")
    s"""WITH cents AS (${artifactCte(V6CentroidDir,
        "CAST(cid AS BIGINT) AS cid, cvec")}),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |asg AS (
       |  SELECT vec_id, cid AS list_id FROM (
       |    SELECT e.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckSqd("e.embedding", "c.cvec")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
       |pr AS (SELECT c.cid, CAST(ROW_NUMBER() OVER (
       |    ORDER BY ${duckSqd("q.qv", "c.cvec")}, c.cid) AS BIGINT) AS prank
       |  FROM cents c, q),
       |scored AS (SELECT e.vec_id, a.list_id, $cos AS sim
       |  FROM embeddings e JOIN asg a USING (vec_id), q),
       |exact AS (SELECT vec_id FROM scored ORDER BY sim DESC, vec_id
       |  LIMIT 10),
       |np AS (SELECT UNNEST([1, 2, 4, $IvfK]) AS nprobe),
       |probed AS (
       |  SELECT np.nprobe, s.vec_id, s.sim
       |  FROM np, pr, scored s
       |  WHERE s.list_id = pr.cid AND pr.prank <= np.nprobe),
       |hits AS (
       |  SELECT nprobe, vec_id FROM (
       |    SELECT nprobe, vec_id, ROW_NUMBER() OVER (PARTITION BY nprobe
       |      ORDER BY sim DESC, vec_id) AS rn FROM probed) WHERE rn <= 10)
       |SELECT CAST(np.nprobe AS INTEGER) AS nprobe,
       |  (SELECT COUNT(*) FROM hits h WHERE h.nprobe = np.nprobe
       |     AND h.vec_id IN (SELECT vec_id FROM exact))::DOUBLE
       |    / (SELECT COUNT(*) FROM exact)::DOUBLE AS recall_at_10,
       |  (SELECT COUNT(*) FROM probed p
       |     WHERE p.nprobe = np.nprobe)::BIGINT AS rows_scanned,
       |  (SELECT COUNT(*) FROM embeddings)::BIGINT AS rows_total,
       |  (SELECT COUNT(*) FROM probed p
       |     WHERE p.nprobe = np.nprobe)::DOUBLE
       |    / (SELECT COUNT(*) FROM embeddings)::DOUBLE AS scan_fraction
       |FROM np ORDER BY nprobe""".stripMargin
  }

  /** The shared PQ-family replay (v7 raw-vector PQ, v8 SQ — same
    * Codebook machinery, different artifact): encode every vector by
    * per-subspace argmin against the artifact codewords, ADC-score via
    * the dot/norm LUTs folded IN SUBSPACE ORDER (an ordered
    * list_reduce, not a SUM — [[VectorExpressions.pqAdc]] sums in j
    * order), then replay the three variants' rankings and recall.
    * Subvector slice: element `j·dsub + i` (this corpus's dim is
    * exactly m·dsub, so PqEncode's zero-pad branch is never taken —
    * len(cw) IS dsub). */
  private def pqFamilySql(artDir: String): String = {
    val cos = VectorQueries.duckCosine("e.embedding", "q.qv")
    val sqdSub = duckFold(
      "list_transform(range(1, len(cb.cw)+1), i -> " +
        "(e.embedding[cb.j * len(cb.cw) + i]::DOUBLE - cb.cw[i]::DOUBLE) * " +
        "(e.embedding[cb.j * len(cb.cw) + i]::DOUBLE - cb.cw[i]::DOUBLE))")
    val lutD = duckFold(
      "list_transform(range(1, len(cb.cw)+1), i -> " +
        "q.qv[cb.j * len(cb.cw) + i]::DOUBLE * cb.cw[i]::DOUBLE)")
    val lutN2 = duckFold(
      "list_transform(range(1, len(cb.cw)+1), i -> " +
        "cb.cw[i]::DOUBLE * cb.cw[i]::DOUBLE)")
    val qnF = duckFold(
      "list_transform(range(1, len(q.qv)+1), i -> " +
        "q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)")
    s"""WITH cb AS (${artifactCte(artDir,
        "CAST(j AS BIGINT) AS j, CAST(c AS BIGINT) AS c, cw")}),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |qn AS (SELECT $qnF AS qn FROM q),
       |codes AS (
       |  SELECT vec_id, j, c FROM (
       |    SELECT e.vec_id, cb.j, cb.c,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j
       |        ORDER BY $sqdSub, cb.c) AS rn
       |    FROM embeddings e CROSS JOIN cb) WHERE rn = 1),
       |luts AS (SELECT cb.j, cb.c, $lutD AS ld, $lutN2 AS l2
       |  FROM cb, q),
       |adc AS (
       |  SELECT codes.vec_id,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list(l.ld ORDER BY codes.j)), (a, x) -> a + x) AS dot,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list(l.l2 ORDER BY codes.j)), (a, x) -> a + x) AS n2
       |  FROM codes JOIN luts l ON l.j = codes.j AND l.c = codes.c
       |  GROUP BY codes.vec_id),
       |score AS (SELECT a.vec_id,
       |    CASE WHEN a.n2 = 0.0 THEN 0.0
       |         ELSE a.dot / (sqrt(a.n2) * sqrt(qn.qn)) END AS adc_score
       |  FROM adc a, qn),
       |exactscore AS (SELECT e.vec_id, $cos AS sim FROM embeddings e, q),
       |exact AS (SELECT vec_id FROM exactscore ORDER BY sim DESC, vec_id
       |  LIMIT 10),
       |hits_adc AS (SELECT 'adc_only' AS variant, vec_id FROM score
       |  ORDER BY adc_score DESC, vec_id LIMIT 10),
       |short50 AS (SELECT vec_id FROM score
       |  ORDER BY adc_score DESC, vec_id LIMIT 50),
       |hits_r50 AS (SELECT 'rerank_50' AS variant, es.vec_id
       |  FROM exactscore es JOIN short50 USING (vec_id)
       |  ORDER BY es.sim DESC, es.vec_id LIMIT 10),
       |hits_all AS (SELECT 'rerank_all' AS variant, vec_id
       |  FROM exactscore ORDER BY sim DESC, vec_id LIMIT 10),
       |allhits AS (SELECT * FROM hits_adc UNION ALL
       |  SELECT * FROM hits_r50 UNION ALL SELECT * FROM hits_all)
       |SELECT variant,
       |  SUM(CASE WHEN vec_id IN (SELECT vec_id FROM exact)
       |    THEN 1 ELSE 0 END)::DOUBLE
       |    / (SELECT COUNT(*) FROM exact)::DOUBLE AS recall_at_10,
       |  (CASE variant WHEN 'adc_only' THEN 10
       |    WHEN 'rerank_50' THEN 50
       |    ELSE (SELECT COUNT(*) FROM embeddings) END)::BIGINT AS shortlist,
       |  (SELECT MAX(len(cw)) FROM cb) * 4.0 AS compression_ratio
       |FROM allhits GROUP BY variant ORDER BY variant""".stripMargin
  }

  /** v23: the RESIDUAL IVFPQ replay — v9's assignment/probe machinery,
    * plus: residual codes assign per (vec, j) by squared distance of the
    * FLOAT residual (embedding − assigned centroid, rounded to REAL —
    * innocuous double rounding) against the residual codebook; ADC
    * reconstructs centroid + codeword per probed list via the
    * residualAdcCosine constants (qc = q·cent, cn = |cent|², per-(list,
    * j, c) LUT = 2·(cent_j·cw) + |cw|²); both variants' shortlists
    * re-rank exactly, and the full-probe corpus-shortlist leg IS the
    * exact top-10 (the exactness witness, replayed not assumed). */
  private val v23Sql = {
    val cos = VectorQueries.duckCosine("e.embedding", "q.qv")
    // plain-codebook legs (cb) — v9's exact expressions
    val sqdSub = duckFold(
      "list_transform(range(1, len(cb.cw)+1), i -> " +
        "(e.embedding[cb.j * len(cb.cw) + i]::DOUBLE - cb.cw[i]::DOUBLE) * " +
        "(e.embedding[cb.j * len(cb.cw) + i]::DOUBLE - cb.cw[i]::DOUBLE))")
    val lutD = duckFold(
      "list_transform(range(1, len(cb.cw)+1), i -> " +
        "q.qv[cb.j * len(cb.cw) + i]::DOUBLE * cb.cw[i]::DOUBLE)")
    val lutN2 = duckFold(
      "list_transform(range(1, len(cb.cw)+1), i -> " +
        "cb.cw[i]::DOUBLE * cb.cw[i]::DOUBLE)")
    // residual-codebook legs (rcb) against the assigned centroid (ct)
    val resElem =
      "((e.embedding[rcb.j * len(rcb.cw) + i]::DOUBLE - " +
        "ct.cvec[rcb.j * len(rcb.cw) + i]::DOUBLE)::REAL)::DOUBLE"
    val resSqd = duckFold(
      "list_transform(range(1, len(rcb.cw)+1), i -> " +
        s"($resElem - rcb.cw[i]::DOUBLE) * ($resElem - rcb.cw[i]::DOUBLE))")
    val rlutQ = duckFold(
      "list_transform(range(1, len(rcb.cw)+1), i -> " +
        "q.qv[rcb.j * len(rcb.cw) + i]::DOUBLE * rcb.cw[i]::DOUBLE)")
    val rlutDcc = duckFold(
      "list_transform(range(1, len(rcb.cw)+1), i -> " +
        "ct.cvec[rcb.j * len(rcb.cw) + i]::DOUBLE * rcb.cw[i]::DOUBLE)")
    val rlutCw2 = duckFold(
      "list_transform(range(1, len(rcb.cw)+1), i -> " +
        "rcb.cw[i]::DOUBLE * rcb.cw[i]::DOUBLE)")
    val qcF = duckFold(
      "list_transform(range(1, len(ct.cvec)+1), i -> " +
        "q.qv[i]::DOUBLE * ct.cvec[i]::DOUBLE)")
    val cnF = duckFold(
      "list_transform(range(1, len(ct.cvec)+1), i -> " +
        "ct.cvec[i]::DOUBLE * ct.cvec[i]::DOUBLE)")
    val qnF = duckFold(
      "list_transform(range(1, len(q.qv)+1), i -> " +
        "q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)")
    s"""WITH cents AS (${artifactCte(V9CentroidDir,
        "CAST(cid AS BIGINT) AS cid, cvec")}),
       |cb AS (${artifactCte(V7CodebookDir,
        "CAST(j AS BIGINT) AS j, CAST(c AS BIGINT) AS c, cw")}),
       |rcb AS (${artifactCte(V23ResCbDir,
        "CAST(j AS BIGINT) AS j, CAST(c AS BIGINT) AS c, cw")}),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |qn AS (SELECT $qnF AS qn FROM q),
       |asg AS (
       |  SELECT vec_id, cid AS list_id FROM (
       |    SELECT e.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckSqd("e.embedding", "c.cvec")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
       |pr AS (SELECT c.cid, CAST(ROW_NUMBER() OVER (
       |    ORDER BY ${duckSqd("q.qv", "c.cvec")}, c.cid) AS BIGINT) AS prank
       |  FROM cents c, q),
       |codes AS (
       |  SELECT vec_id, j, c FROM (
       |    SELECT e.vec_id, cb.j, cb.c,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j
       |        ORDER BY $sqdSub, cb.c) AS rn
       |    FROM embeddings e CROSS JOIN cb) WHERE rn = 1),
       |luts AS (SELECT cb.j, cb.c, $lutD AS ld, $lutN2 AS l2
       |  FROM cb, q),
       |adc AS (
       |  SELECT codes.vec_id,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list(l.ld ORDER BY codes.j)), (a, x) -> a + x) AS dot,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list(l.l2 ORDER BY codes.j)), (a, x) -> a + x) AS n2
       |  FROM codes JOIN luts l ON l.j = codes.j AND l.c = codes.c
       |  GROUP BY codes.vec_id),
       |score AS (SELECT a.vec_id,
       |    CASE WHEN a.n2 = 0.0 THEN 0.0
       |         ELSE a.dot / (sqrt(a.n2) * sqrt(qn.qn)) END AS adc_score
       |  FROM adc a, qn),
       |rescodes AS (
       |  SELECT vec_id, j, c FROM (
       |    SELECT e.vec_id, rcb.j, rcb.c,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, rcb.j
       |        ORDER BY $resSqd, rcb.c) AS rn
       |    FROM embeddings e
       |    JOIN asg ON asg.vec_id = e.vec_id
       |    JOIN cents ct ON ct.cid = asg.list_id
       |    CROSS JOIN rcb) WHERE rn = 1),
       |lconst AS (SELECT ct.cid, $qcF AS qc, $cnF AS cn
       |  FROM cents ct, q),
       |rluts AS (SELECT ct.cid, rcb.j, rcb.c, $rlutQ AS lq,
       |    2.0 * $rlutDcc + $rlutCw2 AS lb
       |  FROM cents ct CROSS JOIN rcb, q),
       |radc AS (
       |  SELECT rc.vec_id,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list(rl.lq ORDER BY rc.j)), (a, x) -> a + x) AS sdot,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list(rl.lb ORDER BY rc.j)), (a, x) -> a + x) AS sn2
       |  FROM rescodes rc JOIN asg ON asg.vec_id = rc.vec_id
       |    JOIN rluts rl ON rl.cid = asg.list_id AND rl.j = rc.j
       |      AND rl.c = rc.c
       |  GROUP BY rc.vec_id),
       |rscore AS (SELECT r.vec_id,
       |    CASE WHEN (lc.cn + r.sn2) <= 0.0 THEN 0.0
       |      ELSE (lc.qc + r.sdot) / (sqrt(lc.cn + r.sn2) * sqrt(qn.qn))
       |      END AS adc_score
       |  FROM radc r JOIN asg ON asg.vec_id = r.vec_id
       |    JOIN lconst lc ON lc.cid = asg.list_id, qn),
       |exactscore AS (SELECT e.vec_id, $cos AS sim FROM embeddings e, q),
       |exact AS (SELECT vec_id FROM exactscore ORDER BY sim DESC, vec_id
       |  LIMIT 10),
       |np AS (SELECT UNNEST([1, 4]) AS nprobe),
       |pprobed AS (
       |  SELECT np.nprobe, sc.vec_id, sc.adc_score
       |  FROM np, pr, asg a JOIN score sc USING (vec_id)
       |  WHERE a.list_id = pr.cid AND pr.prank <= np.nprobe),
       |pshort AS (
       |  SELECT nprobe, vec_id FROM (
       |    SELECT nprobe, vec_id, ROW_NUMBER() OVER (PARTITION BY nprobe
       |      ORDER BY adc_score DESC, vec_id) AS rn FROM pprobed)
       |  WHERE rn <= 50),
       |phits AS (
       |  SELECT nprobe, vec_id FROM (
       |    SELECT sh.nprobe, es.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY sh.nprobe
       |        ORDER BY es.sim DESC, es.vec_id) AS rn
       |    FROM pshort sh JOIN exactscore es USING (vec_id))
       |  WHERE rn <= 10),
       |rnp AS (SELECT UNNEST([1, 4, $IvfK]) AS nprobe),
       |rprobed AS (
       |  SELECT rnp.nprobe, sc.vec_id, sc.adc_score
       |  FROM rnp, pr, asg a JOIN rscore sc USING (vec_id)
       |  WHERE a.list_id = pr.cid AND pr.prank <= rnp.nprobe),
       |rshort AS (
       |  SELECT nprobe, vec_id FROM (
       |    SELECT nprobe, vec_id, ROW_NUMBER() OVER (PARTITION BY nprobe
       |      ORDER BY adc_score DESC, vec_id) AS rn FROM rprobed)
       |  WHERE rn <= CASE WHEN nprobe = $IvfK
       |    THEN (SELECT COUNT(*) FROM embeddings) ELSE 50 END),
       |rhits AS (
       |  SELECT nprobe, vec_id FROM (
       |    SELECT sh.nprobe, es.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY sh.nprobe
       |        ORDER BY es.sim DESC, es.vec_id) AS rn
       |    FROM rshort sh JOIN exactscore es USING (vec_id))
       |  WHERE rn <= 10),
       |legs AS (
       |  SELECT 'plain' AS variant, np.nprobe AS nprobe FROM np
       |  UNION ALL SELECT 'residual', rnp.nprobe
       |    FROM rnp WHERE rnp.nprobe <> $IvfK
       |  UNION ALL SELECT 'rerank_all', $IvfK)
       |SELECT legs.variant, CAST(legs.nprobe AS BIGINT) AS nprobe,
       |  (CASE WHEN legs.variant = 'plain' THEN
       |    (SELECT COUNT(*) FROM phits h WHERE h.nprobe = legs.nprobe
       |       AND h.vec_id IN (SELECT vec_id FROM exact))
       |   ELSE
       |    (SELECT COUNT(*) FROM rhits h WHERE h.nprobe = legs.nprobe
       |       AND h.vec_id IN (SELECT vec_id FROM exact))
       |   END)::DOUBLE
       |    / (SELECT COUNT(*) FROM exact)::DOUBLE AS recall_at_10
       |FROM legs ORDER BY variant, nprobe""".stripMargin
  }

  /** v5: LSH bucket replay. A row's bucket is the sign-bit integer of
    * its dots with the artifact hyperplanes (bit adds are order-free
    * ints; each dot is the ascending double fold of [[Ann.planeDot]]);
    * the depth-d probe set is EVERY bucket within Hamming distance d of
    * the query's — [[Ann.probeBuckets]] by definition — so the probed
    * predicate is `bit_count(xor(bucket, qb)) <= d` directly. */
  private val v5Sql = {
    val cos = VectorQueries.duckCosine("e.embedding", "q.qv")
    def bucketExpr(vec: String): String =
      "(SELECT CAST(SUM(CASE WHEN " +
        duckFold(s"list_transform(range(1, len($vec)+1), " +
          s"i -> $vec[i]::DOUBLE * pl.plane[i])") +
        " >= 0.0 THEN 1 << CAST(pl.p AS INTEGER) ELSE 0 END) AS BIGINT) " +
        "FROM planes pl)"
    s"""WITH planes AS (${artifactCte(V5PlanesDir,
        "CAST(p AS BIGINT) AS p, plane")}),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |qb AS (SELECT ${bucketExpr("q.qv")} AS b FROM q),
       |bucketed AS (SELECT e.vec_id, ${bucketExpr("e.embedding")} AS b,
       |    $cos AS sim
       |  FROM embeddings e, q),
       |exact AS (SELECT vec_id FROM bucketed ORDER BY sim DESC, vec_id
       |  LIMIT 10),
       |dp AS (SELECT UNNEST([0, 1, 2]) AS probe_depth),
       |probed AS (
       |  SELECT dp.probe_depth, s.vec_id, s.sim
       |  FROM dp, bucketed s, qb
       |  WHERE bit_count(xor(s.b, qb.b)) <= dp.probe_depth),
       |hits AS (
       |  SELECT probe_depth, vec_id FROM (
       |    SELECT probe_depth, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY probe_depth
       |        ORDER BY sim DESC, vec_id) AS rn FROM probed)
       |  WHERE rn <= 10)
       |SELECT CAST(dp.probe_depth AS INTEGER) AS probe_depth,
       |  (SELECT COUNT(*) FROM hits h WHERE h.probe_depth = dp.probe_depth
       |     AND h.vec_id IN (SELECT vec_id FROM exact))::DOUBLE
       |    / (SELECT COUNT(*) FROM exact)::DOUBLE AS recall_at_10,
       |  (SELECT COUNT(*) FROM probed p
       |     WHERE p.probe_depth = dp.probe_depth)::BIGINT AS rows_scanned,
       |  (SELECT COUNT(*) FROM embeddings)::BIGINT AS rows_total,
       |  (SELECT COUNT(*) FROM probed p
       |     WHERE p.probe_depth = dp.probe_depth)::DOUBLE
       |    / (SELECT COUNT(*) FROM embeddings)::DOUBLE AS scan_fraction
       |FROM dp ORDER BY probe_depth""".stripMargin
  }

  /** v9: the IVFPQ composition — v6's coarse assignment/probe replay
    * (against the iters=5 centroids) feeding v7's encode/ADC replay,
    * with a 50-row shortlist re-ranked exactly per nprobe. */
  private val v9Sql = {
    val cos = VectorQueries.duckCosine("e.embedding", "q.qv")
    val sqdSub = duckFold(
      "list_transform(range(1, len(cb.cw)+1), i -> " +
        "(e.embedding[cb.j * len(cb.cw) + i]::DOUBLE - cb.cw[i]::DOUBLE) * " +
        "(e.embedding[cb.j * len(cb.cw) + i]::DOUBLE - cb.cw[i]::DOUBLE))")
    val lutD = duckFold(
      "list_transform(range(1, len(cb.cw)+1), i -> " +
        "q.qv[cb.j * len(cb.cw) + i]::DOUBLE * cb.cw[i]::DOUBLE)")
    val lutN2 = duckFold(
      "list_transform(range(1, len(cb.cw)+1), i -> " +
        "cb.cw[i]::DOUBLE * cb.cw[i]::DOUBLE)")
    val qnF = duckFold(
      "list_transform(range(1, len(q.qv)+1), i -> " +
        "q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)")
    s"""WITH cents AS (${artifactCte(V9CentroidDir,
        "CAST(cid AS BIGINT) AS cid, cvec")}),
       |cb AS (${artifactCte(V7CodebookDir,
        "CAST(j AS BIGINT) AS j, CAST(c AS BIGINT) AS c, cw")}),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |qn AS (SELECT $qnF AS qn FROM q),
       |asg AS (
       |  SELECT vec_id, cid AS list_id FROM (
       |    SELECT e.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckSqd("e.embedding", "c.cvec")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
       |pr AS (SELECT c.cid, CAST(ROW_NUMBER() OVER (
       |    ORDER BY ${duckSqd("q.qv", "c.cvec")}, c.cid) AS BIGINT) AS prank
       |  FROM cents c, q),
       |codes AS (
       |  SELECT vec_id, j, c FROM (
       |    SELECT e.vec_id, cb.j, cb.c,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j
       |        ORDER BY $sqdSub, cb.c) AS rn
       |    FROM embeddings e CROSS JOIN cb) WHERE rn = 1),
       |luts AS (SELECT cb.j, cb.c, $lutD AS ld, $lutN2 AS l2
       |  FROM cb, q),
       |adc AS (
       |  SELECT codes.vec_id,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list(l.ld ORDER BY codes.j)), (a, x) -> a + x) AS dot,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list(l.l2 ORDER BY codes.j)), (a, x) -> a + x) AS n2
       |  FROM codes JOIN luts l ON l.j = codes.j AND l.c = codes.c
       |  GROUP BY codes.vec_id),
       |score AS (SELECT a.vec_id,
       |    CASE WHEN a.n2 = 0.0 THEN 0.0
       |         ELSE a.dot / (sqrt(a.n2) * sqrt(qn.qn)) END AS adc_score
       |  FROM adc a, qn),
       |exactscore AS (SELECT e.vec_id, $cos AS sim FROM embeddings e, q),
       |exact AS (SELECT vec_id FROM exactscore ORDER BY sim DESC, vec_id
       |  LIMIT 10),
       |np AS (SELECT UNNEST([1, 4, $IvfK]) AS nprobe),
       |probed AS (
       |  SELECT np.nprobe, sc.vec_id, sc.adc_score
       |  FROM np, pr, asg a JOIN score sc USING (vec_id)
       |  WHERE a.list_id = pr.cid AND pr.prank <= np.nprobe),
       |short AS (
       |  SELECT nprobe, vec_id FROM (
       |    SELECT nprobe, vec_id, ROW_NUMBER() OVER (PARTITION BY nprobe
       |      ORDER BY adc_score DESC, vec_id) AS rn FROM probed)
       |  WHERE rn <= 50),
       |hits AS (
       |  SELECT nprobe, vec_id FROM (
       |    SELECT sh.nprobe, es.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY sh.nprobe
       |        ORDER BY es.sim DESC, es.vec_id) AS rn
       |    FROM short sh JOIN exactscore es USING (vec_id))
       |  WHERE rn <= 10)
       |SELECT CAST(np.nprobe AS BIGINT) AS nprobe,
       |  (SELECT COUNT(*) FROM hits h WHERE h.nprobe = np.nprobe
       |     AND h.vec_id IN (SELECT vec_id FROM exact))::DOUBLE
       |    / (SELECT COUNT(*) FROM exact)::DOUBLE AS recall_at_10,
       |  (SELECT COUNT(*) FROM probed p
       |     WHERE p.nprobe = np.nprobe)::DOUBLE
       |    / (SELECT COUNT(*) FROM embeddings)::DOUBLE AS scan_fraction
       |FROM np ORDER BY nprobe""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "m1_media_features" -> m1Sql,
    "m2_frame_sample" -> m2Sql,
    "m3_jpeg_decode" -> m3Sql,
    "v5_ann_recall" -> v5Sql,
    "v6_ivf_recall" -> v6Sql,
    "v7_pq_recall" -> pqFamilySql(V7CodebookDir),
    "v8_sq_recall" -> pqFamilySql(V8CodebookDir),
    "v9_ivfpq_recall" -> v9Sql,
    "v23_ivfpq_residual" -> v23Sql)
}
