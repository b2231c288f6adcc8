package graft.search

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.StageCache

/** The retrieval pipeline (reference §3.1) re-expressed as declarative
  * DataFrame plans:
  *
  *   filters (F1) → cosine score (T2) → top-k (T1, TakeOrderedAndProject)
  *   → over-fetch dedupe (A2) → parent context broadcast join (J2)
  *   → grouping / per-parent caps (A1/A3)
  *
  * All scoring uses codegen'd built-ins (`zip_with` + `aggregate`), no UDFs:
  * the whole scan→score→top-k pipeline stays inside one WholeStageCodegen
  * span, and because `orderBy(...).limit(k)` plans as TakeOrderedAndProject,
  * no global sort ever materializes — each partition keeps a k-sized heap
  * and the driver merges. That is exactly the shape that survives a 100 TB
  * scan: no shuffle, no sort, linear in data volume.
  */
object VectorSearch {

  /** Dot product over two float-array columns: a native codegen'd Catalyst
    * expression ([[graft.expressions.VectorDot]]) — strict left-to-right
    * double summation, bit-identical to the HOF form below and the DuckDB
    * oracles, but a tight Java loop inside whole-stage codegen.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.vectorDot(a, b)

  /** Interpreted higher-order-function formulation (same arithmetic);
    * kept for non-float array types.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Cosine similarity = dot / (|a|·|b|); 1 - pgvector's `<=>` distance
    * (retrieval/search.py:106-111). One codegen'd pass over both arrays.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.vectorCosine(a, b)

  /** The reference's top_k ceiling (retrieval/query.py:18,47-52); also
    * the largest k the SQL index rewrites may serve un-clamped. */
  val MaxTopK = 100

  /** top_k clamp into [1, 100] (retrieval/query.py:18,47-52). */
  def clampTopK(k: Int, max: Int = MaxTopK): Int =
    math.min(math.max(k, 1), max)

  /** T1/T2/F1 — exact KNN: optional equality filters push down to the scan,
    * similarity is computed in-line, and `orderBy.limit` plans as
    * TakeOrderedAndProject.
    *
    * @param embeddings table with `vector` plus metadata columns
    * @param queryVec   the (driver-side embedded) query vector
    */
  def knn(embeddings: DataFrame, queryVec: Array[Float], topK: Int,
      view: Option[String] = None, lang: Option[String] = None,
      vectorCol: String = "vector", tieBreak: String = "fragment_id",
      clampK: Boolean = true): DataFrame = {
    val k = if (clampK) clampTopK(topK) else math.max(topK, 1)
    val filtered = Seq(
      view.map(v => col("view") === v),
      lang.map(l => col("lang") === l)
    ).flatten.foldLeft(embeddings)((df, p) => df.filter(p))
    filtered
      .withColumn("similarity",
        cosine(col(vectorCol), lit(queryVec)))
      .orderBy(col("similarity").desc, col(tieBreak))
      .limit(k)
  }

  /** The persisted artifact that serves [[dense]]. */
  sealed trait DenseRoute
  /** The routed graph `embeddings_hnsw_routed`, walked over its
    * `probeCells` nearest cells (≥ cells is the full fan-out, still
    * through the replica-deduped routed walk). */
  final case class RoutedGraph(probeCells: Int) extends DenseRoute
  /** The flat graph `embeddings_hnsw`, walked over every shard. */
  case object FlatGraph extends DenseRoute
  /** The exact [[knn]] scan over `embeddings` (no index). */
  case object ExactScan extends DenseRoute

  /** The hybrid serve's preference over what a tables dir holds: the
    * routed graph at the session's probe cells, else the flat graph,
    * else the exact scan. */
  def preferredRoute(spark: SparkSession, tablesDir: String): DenseRoute =
    if (Files.isDirectory(Paths.get(s"$tablesDir/embeddings_hnsw_routed")))
      RoutedGraph(org.apache.spark.sql.graft.HnswIndexRewrite
        .probeCells(spark))
    else if (Files.isDirectory(Paths.get(s"$tablesDir/embeddings_hnsw")))
      FlatGraph
    else ExactScan

  /** Driver-heap bytes a restored graph ([[Hnsw.ServingIndex]]) takes
    * per byte of its adjacency table on disk: 1.73 at 150 nodes, 2.69 at
    * 20k and 2.66 at 100k (dim 64, `graft.ResidentHeapGen` in the test
    * tree: live heap after full collections with and without restored
    * copies held, over [[StageCache.treeStat]]'s bytes), rounded up.
    * The restored neighbor lists hold boxed ints that parquet stores in
    * a few bytes (SCALE.md, "Resident dense graph"). */
  private[search] val ResidentExpansion = 3.0

  /** The resident size guard: an adjacency of `treeBytes` on disk is
    * restored into the driver only when its expected heap fits a quarter
    * of `maxHeap`. A restore briefly holds the collected rows beside the
    * graph, and the driver's own Spark work needs the rest. */
  private[search] def residentFits(treeBytes: Long, maxHeap: Long): Boolean =
    treeBytes * ResidentExpansion <= maxHeap / 4.0

  /** The dense channel: top-`c` `(fragment_id, similarity)` of `query`
    * over a tables dir through `route`, in rank order, the query
    * embedded at the artifact's dimension.
    *
    * A graph route walks a RESIDENT graph: the adjacency restored once
    * per session into a [[StageCache.memo]] slot `serving:<path>`
    * ([[Hnsw.restoreServing]] / [[Hnsw.restoreServingRouted]]), so a
    * warm walk runs no Spark job. The slot's fingerprint is the
    * adjacency's [[StageCache.treeFingerprint]]; the routed layout adds
    * the router sidecar's [[Ivf.contentHash]], because the sidecar sits
    * outside the tree and a retrain must reopen the slot (or fail its
    * `router_hash` guard). A view/lang scope walks with its eligible
    * fragment ids, kept in a slot `eligible:<embeddings path>:<view>:
    * <lang>` fingerprinted by the `embeddings` tree; a node with no
    * `embeddings` row is not eligible.
    *
    * The size guard ([[residentFits]] of the tree's bytes against
    * `maxHeap`, the driver's max heap) keeps an adjacency that would not
    * fit on the distributed [[Hnsw.searchIndex]] / [[Hnsw.searchIndexRouted]]
    * walk, with eligibility joined on from `embeddings` per serve. Both
    * walks search each shard graph with the same `Index.search` /
    * `searchFiltered` at `k = clampTopK(c)` and merge by (similarity
    * desc, id asc), the routed one deduping replicas: they return the
    * same hits. */
  def dense(spark: SparkSession, tablesDir: String, query: String, c: Int,
      ef: Int, view: Option[String], lang: Option[String],
      route: DenseRoute,
      maxHeap: Long = Runtime.getRuntime.maxMemory): Seq[(String, Double)] = {
    def embed(dim: Int) =
      new graft.embedding.OfflineEmbedder(dim).embedQuery(query)
    // kept beside the opened table, under the same fingerprint: one
    // head(1) job per file tree, not per serve
    def dimOf(name: String, rebuild: String): Int = {
      val path = s"$tablesDir/$name"
      StageCache.memo(spark, s"dim:$path",
          StageCache.treeFingerprint(path, "")) {
        val first = StageCache.table(spark, path).select(col("vector")).head(1)
        require(first.nonEmpty,
          s"$name under $tablesDir is empty; re-run $rebuild")
        first(0).getAs[scala.collection.Seq[Float]](0).length
      }
    }
    val scope = Seq(view.map(col("view") === _), lang.map(col("lang") === _))
      .flatten
    def allowed: Option[Set[String]] =
      if (scope.isEmpty) None
      else {
        val path = s"$tablesDir/embeddings"
        Some(StageCache.memo(spark, s"eligible:$path:$view:$lang",
            StageCache.treeFingerprint(path, "")) {
          scope.foldLeft(StageCache.table(spark, path))(_.filter(_))
            .select(col("fragment_id")).collect().map(_.getString(0)).toSet
        })
      }
    // the restored graph at `path` when it fits the driver, else None
    def resident[G](path: String, params: String)(
        restore: DataFrame => G): Option[G] = {
      val (fp, bytes) = StageCache.treeStat(path, params)
      if (!residentFits(bytes, maxHeap)) None
      else Some(StageCache.memo(spark, s"serving:$path", fp)(
        restore(StageCache.table(spark, path))))
    }
    def scoped(index: DataFrame): (DataFrame, Option[Column]) =
      if (scope.isEmpty) (index, None)
      else {
        val meta = StageCache.table(spark, s"$tablesDir/embeddings")
          .select(col("fragment_id").as("__fid"),
            col("view").as("__view"), col("lang").as("__lang"))
        (index.join(meta, col("fragment_id") === col("__fid"), "left"),
          Some(Seq(view.map(col("__view") === _),
            lang.map(col("__lang") === _)).flatten.reduce(_ && _)))
      }
    def collected(hits: DataFrame): Seq[(String, Double)] =
      hits.select(col("fragment_id"), col("similarity")).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
    route match {
      case RoutedGraph(r) =>
        val path = s"$tablesDir/embeddings_hnsw_routed"
        val router = Ivf.load(s"$path.router.txt")
        val qvec = embed(router.dim)
        resident(path, s"router=${Ivf.contentHash(router)}")(
            Hnsw.restoreServingRouted(_, router)) match {
          case Some(g) => allowed.fold(g.search(qvec, c, ef, r))(
            g.searchFiltered(qvec, c, ef, r, _)).toSeq
          case None =>
            val (searchable, pred) = scoped(StageCache.table(spark, path))
            collected(Hnsw.searchIndexRouted(searchable, Seq(("q", qvec)),
              c, ef, router, probeShards = r, predicate = pred)
              .orderBy(col("rank")))
        }
      case FlatGraph =>
        val path = s"$tablesDir/embeddings_hnsw"
        val qvec = embed(dimOf("embeddings_hnsw", "hnsw-index"))
        resident(path, "")(Hnsw.restoreServing(_)) match {
          case Some(g) => allowed.fold(g.search(qvec, c, ef))(
            g.searchFiltered(qvec, c, ef, _)).toSeq
          case None =>
            val (searchable, pred) = scoped(StageCache.table(spark, path))
            collected(Hnsw.searchIndex(searchable, Seq(("q", qvec)), c, ef,
              predicate = pred).orderBy(col("rank")))
        }
      case ExactScan =>
        collected(knn(StageCache.table(spark, s"$tablesDir/embeddings"),
          embed(dimOf("embeddings", "ingest")), c, view, lang))
    }
  }

  /** A2 with the over-fetch fix: the reference dedupes AFTER limit and can
    * under-fill top_k (its own review note, review-01-04-2238.md:5); here we
    * over-fetch k·overFetch, keep the best row per content, then re-limit.
    */
  def knnDeduped(embeddings: DataFrame, queryVec: Array[Float], topK: Int,
      view: Option[String] = None, lang: Option[String] = None,
      overFetch: Int = 4): DataFrame = {
    val k = clampTopK(topK)
    // the over-fetch is internal — it must NOT re-clamp to 100, or at
    // k ≥ 25 the fetch degrades back to dedupe-after-limit (the reference
    // bug this method exists to fix)
    val wide = knn(embeddings, queryVec, k * overFetch, view, lang,
      clampK = false)
    val w = Window.partitionBy(col("content"))
      .orderBy(col("similarity").desc, col("fragment_id"))
    wide.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .orderBy(col("similarity").desc, col("fragment_id"))
      .limit(k)
  }

  /** Filtered top-k by OVER-FETCHED POST-FILTER — for predicates that
    * cannot be evaluated inside the index scan (e.g. eligibility living
    * in another table that would have to join into every probed row).
    * Fetches the unfiltered top `k·overFetch` (TakeOrderedAndProject —
    * k·overFetch-bounded, never a sort), applies the predicate, keeps k.
    *
    * **Fill guarantee (exactness-when-filled):** if the result has k
    * rows, it IS the exact filtered top-k. Proof: any eligible row
    * outside the unfiltered top-k′ scores below every row inside it, so
    * if ≥ k eligible rows appear within the top-k′, the k best of them
    * are the k best eligible rows globally. Fewer than k rows back =
    * honest underfill (the dedupe-after-limit failure the reference's
    * own review flagged, review/review-01-04-2238.md:5) — the caller
    * escalates: double overFetch, or fall back to [[knn]] with the
    * predicate pushed into the scan (exact, one filtered pass).
    * `overFetch ≥ k/σ` fills whenever eligible rows make up fraction σ
    * of every top segment; FilteredAnnSpec pins both the filled-exact
    * and the detectable-underfill cases.
    */
  def postFilterKnn(embeddings: DataFrame, queryVec: Array[Float],
      topK: Int, predicate: Column, overFetch: Int = 4,
      vectorCol: String = "vector",
      tieBreak: String = "fragment_id"): DataFrame = {
    // caller-visible k obeys the [1, 100] contract like every sibling
    // entry point; only the INTERNAL over-fetch escapes the clamp (the
    // knnDeduped pattern — re-clamping it would recreate the
    // dedupe-after-limit bug at k ≥ 25)
    val k = clampTopK(topK)
    knn(embeddings, queryVec, k * math.max(overFetch, 1),
        vectorCol = vectorCol, tieBreak = tieBreak, clampK = false)
      .filter(predicate)
      .orderBy(col("similarity").desc, col(tieBreak))
      .limit(k)
  }

  /** J2 — context expansion: left-join parent content onto hits; a missing
    * parent yields null context (retrieval/context.py:84-86). Parents are
    * broadcast — the hit set is ≤ k rows and parents are the small side of
    * any realistic deployment's working set for the ids involved.
    */
  def expandContext(hits: DataFrame, parents: DataFrame): DataFrame =
    hits.join(
      broadcast(parents.select(
        col("parent_id").as("__pid"),
        col("content").as("parent_content"))),
      hits("parent_id") === col("__pid"), "left")
      .drop("__pid")

  /** A1 — group hits by a key into collected lists
    * (retrieval/grouping.py:31-75).
    */
  def groupByKey(hits: DataFrame, key: String): DataFrame =
    hits.groupBy(col(key))
      .agg(collect_list(struct(hits.columns.map(col).toIndexedSeq: _*)).as("hits"),
        count(lit(1)).as("n_hits"))

  /** A3 — cap hits per parent to n, best-similarity first
    * (retrieval/grouping.py:96-118).
    */
  def topNPerParent(hits: DataFrame, n: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("parent_id"))
      .orderBy(col("similarity").desc, col("fragment_id"))
    hits.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn")
  }

  /** Group-local exact top-k + group size in ONE pass (one shuffle on
    * `groupCol`, two window functions over the same partitioning). The
    * merge property that makes this the ANN/federated-scan building block:
    * the global top-k over ANY union of groups equals the top-k of the
    * union of the per-group top-k sets — so one collect of k rows per
    * group answers every probe combination on the driver.
    */
  def topKPerGroup(embeddings: DataFrame, queryVec: Array[Float], k: Int,
      groupCol: String, vectorCol: String = "vector",
      tieBreak: String = "fragment_id"): DataFrame = {
    val ordered = Window.partitionBy(col(groupCol))
      .orderBy(col("similarity").desc, col(tieBreak))
    val whole = Window.partitionBy(col(groupCol))
    embeddings
      .withColumn("similarity", cosine(col(vectorCol), lit(queryVec)))
      .withColumn("group_size", count(lit(1)).over(whole))
      .withColumn("__rn", row_number().over(ordered))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** T3 — batch KNN: N queries as ONE job instead of N sequential scans
    * (api/cli/quality.py:68-100 runs 45 KNNs serially; here the query set
    * broadcasts, similarity computes per (query, row) pair, and a
    * per-query window keeps top-k — a single scan of the embeddings table
    * regardless of query count).
    *
    * @param queries (query_id, query_vector) pairs
    */
  def batchKnn(embeddings: DataFrame, queries: DataFrame, topK: Int,
      vectorCol: String = "vector", tieBreak: String = "fragment_id"): DataFrame = {
    val k = clampTopK(topK)
    val scored = embeddings.join(broadcast(queries))
      .withColumn("similarity", cosine(col(vectorCol), col("query_vector")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("similarity").desc, col(tieBreak))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .withColumnRenamed("__rn", "rank")
  }
}
