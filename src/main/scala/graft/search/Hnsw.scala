package graft.search

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** HNSW graph ANN — the reference's primary index class (pgvector HNSW,
  * storage/schema.py:78-84), built Spark-native as SHARD-LOCAL graphs.
  *
  * A navigable-small-world graph needs random access to its neighbor
  * lists, so one global graph cannot span executors. The distributed
  * shape that does work (the FAISS "IndexShards" pattern) is:
  *
  *   - each partition builds an in-memory HNSW over ITS rows inside
  *     `mapPartitions` (write-time map work, no shuffle),
  *   - a query batch broadcasts, every shard answers top-k from its
  *     local graph (`O(ef·log n_shard)` distance ops instead of a scan),
  *   - a per-query window merges shard results — the top-k of a union of
  *     shards is the top-k of the per-shard top-ks
  *     ([[VectorSearch.topKPerGroup]]'s merge property).
  *
  * At 100 TB: graphs build once per partition at write time and amortize
  * over every query in a batch; per-query work is logarithmic per shard
  * and the merge moves only `shards·k` rows. The build is the expensive
  * step (`O(n·efC·log n)` distance ops per shard), which is why the batch
  * path ([[searchBatch]]) builds once and answers many queries — single-
  * query indexing stays with IVF/IVFPQ partition pruning ([[Ivf]], the
  * pgvector-IVFFlat analog, app/storage.py:165-169).
  *
  * Determinism and the exactness witness (the properties every graft ANN
  * structure ships with, cf. v6 full-probe / v7 rerank_all):
  *
  *   - **Deterministic**: insertion order is the caller's (sorted by id
  *     in [[searchBatch]]); a node's level comes from the md5 of its id
  *     (no RNG); all heap ties break on node index. Same rows ⇒ same
  *     graph ⇒ same results, every run.
  *   - **Connected by construction**: on top of the standard M-nearest
  *     bidirectional links, every node keeps a never-pruned "spine" edge
  *     to its insertion predecessor at layer 0, so layer 0 always
  *     contains the path `0 ↔ 1 ↔ … ↔ n-1`. Neighbor-list pruning can
  *     therefore never disconnect the graph (the classic HNSW failure
  *     mode that makes `ef = n` merely heuristic elsewhere).
  *   - **Exactness witness**: best-first search with `ef ≥ n` never
  *     prunes a candidate (the result beam is not full until every node
  *     is in it), so on a connected graph it visits ALL nodes — search
  *     degenerates to the exact scan and recall@k is 1.0 by
  *     construction, not by luck. HnswSpec pins this; the v10 catalog
  *     query carries the witness row.
  *
  * Reference: Malkov & Yashunin, "Efficient and robust approximate
  * nearest neighbor search using Hierarchical Navigable Small World
  * graphs" (2016) — public algorithm, original implementation.
  */
object Hnsw {

  /** Unit-normalization as [[Index]] applies it on insert — the ONE
    * copy of this arithmetic (the graph's own insert path delegates
    * here). Deliberately NOT part of the content-hash path: it is not
    * bit-idempotent (norm(norm(v)) can flip low bits), which is
    * exactly why [[contentHash]] hashes the raw vector instead. */
  private[graft] def unitNormalize(v: Array[Float]): Array[Float] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val inv = if (s == 0) 0.0 else 1.0 / math.sqrt(s)
    val out = new Array[Float](v.length)
    i = 0
    while (i < v.length) { out(i) = (v(i) * inv).toFloat; i += 1 }
    out
  }

  /** FNV-1a 64 over a vector's float bits. The per-node content
    * witness the index table persists as `vec_hash` is this hash of
    * the RAW INPUT vector (never the stored normalized copy:
    * [[unitNormalize]] is not bit-idempotent, so a maintenance rebuild
    * that re-normalizes kept vectors would drift a normalized-form
    * hash and spuriously trip the serving guard). [[buildIndexTable]]
    * hashes each input row; maintenance CARRIES stored hashes for kept
    * nodes and hashes only its delta rows; [[contentHash]] reproduces
    * the value from the base row, so the serving rewrite hard-errors
    * when a configured index was not built over the scanned relation
    * (the ivf_q_hash contract, extended to row content). */
  private[graft] def normHash(v: Array[Float]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < v.length) {
      var bits = java.lang.Float.floatToIntBits(v(i))
      var b = 0
      while (b < 4) {
        h ^= (bits & 0xFF).toLong
        h *= 0x100000001b3L
        bits >>>= 8
        b += 1
      }
      i += 1
    }
    h
  }

  /** [[normHash]] of a base row's raw vector — what the index node
    * with its id carries as `vec_hash` if it was built from this row.
    * Public because the Catalyst-side `HnswVectorHash` expression
    * (org.apache.spark.sql.graft) evaluates it per served row. */
  def contentHash(raw: Array[Float]): Long = normHash(raw)

  /** In-memory deterministic HNSW over unit-normalized vectors (cosine
    * ranking via dot product). Insertion is not thread-safe (one building
    * instance per partition/task); searches only read the graph, so
    * threads may share a restored index (the [[distOps]] statistic may
    * then lose counts).
    *
    * @param m  max out-degree at layers ≥ 1 (layer 0 allows 2·m)
    * @param efConstruction  beam width during insertion
    */
  final class Index(val dim: Int, val m: Int, val efConstruction: Int) {
    private val mMax0 = 2 * m
    private val mL = 1.0 / math.log(m.toDouble)

    private val ids = mutable.ArrayBuffer.empty[String]
    private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    /** links(node)(level) — neighbor node indices. */
    private val links = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
    private var entry: Int = -1
    private var maxLevel: Int = -1

    /** Distance computations since construction — the honest "rows
      * scanned" analog for recall/cost studies (RecallStudy).
      */
    var distOps: Long = 0L

    def size: Int = ids.length

    private def normalize(v: Array[Float]): Array[Float] = unitNormalize(v)

    /** Negative dot of unit vectors — smaller is closer. */
    private def dist(q: Array[Float], node: Int): Double = {
      distOps += 1
      val v = vecs(node)
      var s = 0.0
      var i = 0
      val n = math.min(q.length, v.length)
      while (i < n) { s += q(i).toDouble * v(i); i += 1 }
      -s
    }

    /** Deterministic level: md5(id) → uniform in (0,1] → geometric-ish
      * `floor(-ln(u)·mL)` (the paper's draw, RNG replaced by a hash).
      */
    private def levelOf(id: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.getBytes("UTF-8"))
      val bits = java.nio.ByteBuffer.wrap(d).getLong >>> 11 // 53 bits
      val u = (bits + 1).toDouble / (1L << 53).toDouble // (0, 1]
      math.floor(-math.log(u) * mL).toInt
    }

    /** Greedy descent at one layer: move to any strictly closer neighbor
      * until none exists (ef=1 search; deterministic — scans neighbor
      * lists in stored order, strict improvement only).
      */
    private def greedy(q: Array[Float], start: Int, level: Int): Int = {
      var cur = start
      var curD = dist(q, cur)
      var improved = true
      while (improved) {
        improved = false
        val ns = links(cur)(level)
        var i = 0
        while (i < ns.length) {
          val d = dist(q, ns(i))
          if (d < curD) { cur = ns(i); curD = d; improved = true }
          i += 1
        }
      }
      cur
    }

    /** Best-first beam search at one layer. Returns up to `ef` nearest
      * (dist, node) pairs among nodes `allow` accepts, ordering ties by
      * node index.
      *
      * `allow` is the RESULT-SIDE eligibility filter of filtered-HNSW
      * (the pgvector filtered index walk / FAISS `IDSelector` shape):
      * NAVIGATION runs over the whole graph (disallowed nodes still
      * expand — the small-world routing must not be severed by the
      * predicate), while the bounded result beam accepts only eligible
      * nodes. Termination uses the ELIGIBLE beam: until it holds `ef`
      * eligible nodes nothing is pruned, so the search keeps widening
      * exactly when the predicate starves it — the graph analog of
      * [[Ivf.searchFilteredAdaptive]]'s probe widening, and the reason
      * `ef ≥ n` stays an exactness witness under any predicate (every
      * node visited ⇒ exact filtered scan). Cost rises as selectivity
      * falls (inherent to filtered graph ANN); below ~1% selectivity
      * prefer the exact pre-filter scan. With the default allow-all the
      * behavior and visit order are the classic unfiltered beam search,
      * bit-for-bit.
      */
    private def searchLayer(q: Array[Float], eps: Seq[Int], ef: Int,
        level: Int,
        allow: Int => Boolean = _ => true): mutable.ArrayBuffer[(Double, Int)] = {
      val visited = mutable.HashSet.empty[Int]
      // candidates: nearest first; results: furthest first (bounded ef)
      implicit val ord: Ordering[(Double, Int)] = Ordering.Tuple2
      val cand = mutable.PriorityQueue.empty[(Double, Int)](ord.reverse)
      val res = mutable.PriorityQueue.empty[(Double, Int)](ord)
      eps.foreach { ep =>
        if (visited.add(ep)) {
          val d = dist(q, ep)
          cand.enqueue((d, ep))
          if (allow(ep)) res.enqueue((d, ep))
        }
      }
      while (cand.nonEmpty) {
        val (cd, c) = cand.dequeue()
        if (res.size >= ef && cd > res.head._1) {
          cand.clear() // nearest remaining candidate is worse than the
          // furthest kept result and the beam is full — done
        } else {
          val ns = links(c)(level)
          var i = 0
          while (i < ns.length) {
            val nb = ns(i)
            if (visited.add(nb)) {
              val d = dist(q, nb)
              // expand while the eligible beam is unfilled (exhaustive
              // widening), or when the neighbor could still beat it
              if (res.size < ef || d < res.head._1 ||
                  (d == res.head._1 && nb < res.head._2)) {
                cand.enqueue((d, nb))
                if (allow(nb)) {
                  res.enqueue((d, nb))
                  if (res.size > ef) res.dequeue()
                }
              }
            }
            i += 1
          }
        }
      }
      val out = mutable.ArrayBuffer.empty[(Double, Int)]
      out ++= res
      out.sortInPlace()
      out
    }

    private def distNodes(a: Int, b: Int): Double = dist(vecs(a), b)

    /** Diverse neighbor selection (Malkov & Yashunin Alg. 4, with
      * keep-pruned fill): a candidate is kept only if it is closer to the
      * base point than to every already-kept neighbor — this preserves
      * edges that BRIDGE clusters instead of m redundant links into the
      * nearest one, which is what makes greedy navigation cross cluster
      * boundaries on real (clustered) embedding distributions.
      * Candidates arrive (dist, node) sorted ascending.
      */
    private def selectNeighbors(cand: Seq[(Double, Int)], keep: Int): Seq[Int] = {
      val kept = mutable.ArrayBuffer.empty[Int]
      val pruned = mutable.ArrayBuffer.empty[Int]
      cand.foreach { case (d, c) =>
        if (kept.size < keep) {
          if (kept.forall(k => distNodes(c, k) > d)) kept += c
          else pruned += c
        }
      }
      val it = pruned.iterator
      while (kept.size < keep && it.hasNext) kept += it.next()
      kept.toSeq
    }

    /** Shrink `x`'s level list to `keep` via the diversity heuristic, but
      * never drop a spine edge (insertion predecessor/successor) at
      * layer 0 — the connectivity guarantee.
      */
    private def shrink(x: Int, level: Int, keep: Int): Unit = {
      val list = links(x)(level)
      if (list.length <= keep) return
      val isSpine: Int => Boolean =
        if (level == 0) nb => nb == x - 1 || nb == x + 1 else _ => false
      val spine = list.filter(isSpine)
      val q = vecs(x)
      val scored = list.filterNot(isSpine)
        .map(nb => (dist(q, nb), nb)).sortBy(identity).toSeq
      val sel = selectNeighbors(scored, keep - spine.length)
      list.clear()
      list ++= spine
      list ++= sel
    }

    private def connect(a: Int, b: Int, level: Int): Unit = {
      if (a != b && !links(a)(level).contains(b)) links(a)(level) += b
      if (a != b && !links(b)(level).contains(a)) links(b)(level) += a
    }

    /** Insert in caller order. Vectors are normalized on entry. */
    def add(id: String, raw: Array[Float]): Unit = {
      val v = normalize(raw)
      val idx = ids.length
      val level = levelOf(id)
      ids += id
      vecs += v
      links += Array.fill(level + 1)(mutable.ArrayBuffer.empty[Int])
      if (idx == 0) { entry = 0; maxLevel = level; return }

      var ep = entry
      var lev = maxLevel
      while (lev > level) { ep = greedy(v, ep, lev); lev -= 1 }
      var eps: Seq[Int] = Seq(ep)
      lev = math.min(maxLevel, level)
      while (lev >= 0) {
        val w = searchLayer(v, eps, efConstruction, lev)
        val cap = if (lev == 0) mMax0 else m
        selectNeighbors(w.toSeq, m).foreach { nb =>
          connect(idx, nb, lev)
          shrink(nb, lev, cap)
        }
        eps = w.map(_._2).toSeq
        lev -= 1
      }
      connect(idx, idx - 1, 0) // spine: layer 0 stays connected forever
      shrink(idx, 0, mMax0)
      if (level > maxLevel) { entry = idx; maxLevel = level }
    }

    /** Serialize to one adjacency row per node: (node_idx, id,
      * normalized vector, per-level neighbor lists). Level, entry point
      * and max level are all derivable on restore (level = links rank;
      * the entry point is the first node to attain the max level = the
      * smallest index at the max level, because [[add]] moves the entry
      * only on a strict level increase).
      */
    private[search] def exportRows: IndexedSeq[(Int, String, Array[Float], Array[Array[Int]])] =
      ids.indices.map { i =>
        (i, ids(i), vecs(i), links(i).map(_.toArray))
      }

    /** Restore from [[exportRows]] output (rows must arrive sorted by
      * node_idx; vectors are already normalized). Only valid on a
      * freshly constructed empty index.
      */
    private[search] def importRows(
        rows: Iterable[(Int, String, Array[Float], Array[Array[Int]])]): Unit = {
      require(ids.isEmpty, "importRows on a non-empty index")
      rows.foreach { case (i, id, v, ls) =>
        require(i == ids.length, s"gap in node_idx at $i")
        ids += id
        vecs += v
        links += ls.map(l => mutable.ArrayBuffer.from(l))
        val level = ls.length - 1
        if (level > maxLevel) { maxLevel = level; entry = i }
      }
    }

    /** Top-k by cosine, similarity descending, ties by id ascending.
      * `ef ≥ size` is the exactness witness: the search visits every
      * node (connected graph + never-full beam) and equals the exact
      * scan.
      */
    def search(rawQ: Array[Float], k: Int, ef: Int): Array[(String, Double)] = {
      if (ids.isEmpty) return Array.empty
      val q = normalize(rawQ)
      var ep = entry
      var lev = maxLevel
      while (lev > 0) { ep = greedy(q, ep, lev); lev -= 1 }
      val w = searchLayer(q, Seq(ep), math.max(ef, k), 0)
      // final selection ties on ID, not node index: after an in-place
      // extension ([[HnswMaintenance]]) insertion order no longer equals
      // id order, and a node-index tie at the k boundary would diverge
      // from the exact scan's id tie-break — the witness contract
      w.map { case (d, node) => (d, ids(node)) }
        .sortInPlace()
        .take(k)
        .map { case (d, id) => (id, -d) }
        .toArray
    }

    /** FILTERED top-k: same descent and tie rules as [[search]], with
      * the layer-0 beam collecting only nodes whose ID the predicate
      * allows ([[searchLayer]]'s `allow` — navigation stays unfiltered).
      * Returns min(k, eligible-found) rows; `ef ≥ size` ⇒ exact
      * filtered top-k (every node visited).
      */
    def searchFiltered(rawQ: Array[Float], k: Int, ef: Int,
        allow: String => Boolean): Array[(String, Double)] = {
      if (ids.isEmpty) return Array.empty
      val q = normalize(rawQ)
      var ep = entry
      var lev = maxLevel
      while (lev > 0) { ep = greedy(q, ep, lev); lev -= 1 }
      val w = searchLayer(q, Seq(ep), math.max(ef, k), 0,
        node => allow(ids(node)))
      w.map { case (d, node) => (d, ids(node)) }
        .sortInPlace()
        .take(k)
        .map { case (d, id) => (id, -d) }
        .toArray
    }
  }

  /** Build-time default M — also the last-resort fallback when
    * [[deriveM]] sees an empty shard.
    */
  private[search] val DefaultM = 16

  /** Build an index from (id, vector) rows in the given order. */
  def build(rows: Iterable[(String, Array[Float])], m: Int = 16,
      efConstruction: Int = 200): Index = {
    val it = rows.iterator
    require(it.hasNext, "empty HNSW build input")
    val first = it.next()
    val idx = new Index(first._2.length, m, efConstruction)
    idx.add(first._1, first._2)
    it.foreach { case (id, v) => idx.add(id, v) }
    idx
  }

  /** Distributed batch ANN: shard-local HNSW graphs + global top-k merge.
    *
    * Each partition sorts its rows by id (determinism), builds a local
    * graph, answers every broadcast query, and the per-query window keeps
    * the global top-k — one pass over the data for the whole batch,
    * `O(ef·log n_shard)` distance ops per (query, shard) instead of a
    * scan. Output schema matches [[VectorSearch.batchKnn]]:
    * `(query_id, <idCol>, similarity, rank)`.
    *
    * `ef ≥ max shard size` ⇒ every shard answers exactly ⇒ the merged
    * result is the exact batch KNN (the witness HnswSpec pins).
    */
  def searchBatch(embeddings: DataFrame, queries: Seq[(String, Array[Float])],
      topK: Int, ef: Int, m: Int = 16, efConstruction: Int = 200,
      numShards: Int = 0, vectorCol: String = "vector",
      idCol: String = "fragment_id"): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val k = VectorSearch.clampTopK(topK)
    val base = embeddings.select(col(idCol).cast("string"), col(vectorCol))
      .as[(String, Array[Float])]
    val sharded = if (numShards > 0) base.repartition(numShards, col(idCol))
      else base
    val qB = spark.sparkContext.broadcast(queries.toArray)
    val perShard = sharded.mapPartitions { it =>
      val rows = it.toArray.sortBy(_._1)
      if (rows.isEmpty) Iterator.empty
      else {
        val g = build(rows, m, efConstruction)
        qB.value.iterator.flatMap { case (qid, qv) =>
          g.search(qv, k, ef).map { case (id, sim) => (qid, id, sim) }
        }
      }
    }.toDF("query_id", idCol, "similarity")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("similarity").desc, col(idCol))
    perShard.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Write-time index build: shard-local graphs serialized to a parquet
    * ADJACENCY TABLE — one row per node `(shard_id, node_idx, id,
    * vector, links)`, partitioned by `shard_id`. This is the persisted
    * form of [[searchBatch]]'s in-memory graphs: build once when the
    * embeddings land (the `O(n·efC·log n)` cost paid at write time, like
    * IVF's `list_id` assignment), then ANY later query batch reloads and
    * walks the graphs via [[searchIndex]] without rebuilding. The level
    * structure, entry points and max level are all derivable from the
    * per-node neighbor lists, so the row schema is self-contained.
    *
    * Sharding is `repartition(numShards, hash(id))` + sort-by-id within
    * the shard — the same deterministic assignment as [[searchBatch]],
    * so a saved index answers bit-identically to the build-and-search
    * path at equal `ef` (HnswPersistSpec pins this).
    */
  def buildIndexTable(embeddings: DataFrame, numShards: Int, m: Int = 16,
      efConstruction: Int = 200, vectorCol: String = "vector",
      idCol: String = "fragment_id", docCol: Option[String] = None): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    require(numShards > 0, "numShards must be positive")
    // doc_id rides along per node (defaults to the id itself) so document-
    // level cascade ([[HnswMaintenance.updateIndexByDoc]]) can find a
    // replaced document's rows with a two-column scan, the IVF docKey
    // pattern
    val docExpr = docCol.map(c => col(c).cast("string"))
      .getOrElse(col(idCol).cast("string"))
    embeddings.select(col(idCol).cast("string"), col(vectorCol),
        docExpr.as("__doc"))
      .as[(String, Array[Float], String)]
      .repartition(numShards, col(idCol))
      .mapPartitions { it =>
        buildShard(org.apache.spark.TaskContext.getPartitionId(), it.toArray,
          m, efConstruction)
      }
      .toDF("shard_id", "node_idx", idCol, vectorCol, "links", "doc_id",
        "vec_hash")
  }

  /** One shard's graph, the build kernel of both layouts: `(id, raw
    * vector, doc_id)` rows sorted by id and inserted in that order, then
    * exported one row per node with its doc_id and the hash of its RAW
    * input vector (node index = insertion order, so position i's doc and
    * hash follow node i).
    */
  private def buildShard(shard: Int, in: Array[(String, Array[Float], String)],
      m: Int, efConstruction: Int)
      : Iterator[(Int, Int, String, Array[Float], Array[Array[Int]], String,
        Long)] = {
    val rows = in.sortBy(_._1)
    if (rows.isEmpty) Iterator.empty
    else {
      val docs = rows.map(_._3)
      val hashes = rows.map(r => normHash(r._2))
      build(rows.map(r => (r._1, r._2)).toSeq, m, efConstruction)
        .exportRows.iterator
        .map { case (i, id, v, ls) =>
          (shard, i, id, v, ls, docs(i), hashes(i))
        }
    }
  }

  /** Persist the adjacency table partitioned by shard, so one search
    * task reads exactly one shard's rows. A router sidecar left at
    * `<path>.router.txt` by an earlier routed index at the same path is
    * deleted FIRST: it declares the routed layout to every reader
    * ([[org.apache.spark.sql.graft.HnswIndexRewrite]],
    * [[HnswMaintenance]]), and a routed walk of this flat graph would
    * prune to cell 0's shard range and silently miss every other cell.
    */
  def saveIndex(embeddings: DataFrame, path: String, numShards: Int,
      m: Int = 16, efConstruction: Int = 200, vectorCol: String = "vector",
      idCol: String = "fragment_id", docCol: Option[String] = None): Unit = {
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$path.router.txt"))
    buildIndexTable(embeddings, numShards, m, efConstruction, vectorCol,
      idCol, docCol)
      .write.mode("overwrite").partitionBy("shard_id").parquet(path)
  }

  /** CLUSTER-ROUTED layout (VERDICT r13 task 3 — closes the 10M soak's
    * wave-bound fan-out finding). Hash sharding makes every shard a
    * uniform sample of the corpus, so a correct merged top-k REQUIRES
    * walking every shard and single-query cost grows linearly with
    * shard count (SCALE.md, fifth decade: 800 shards wave-bound on 32
    * cores). The routed layout shards by embedding-space cluster
    * instead — `shard_id = nearest centroid` of a k-means ROUTER (the
    * IVF coarse-quantizer machinery, one centroid per shard) — so a
    * query's neighbors concentrate in few shards and
    * [[searchIndexRouted]] walks only the R nearest: cost
    * O(R·ef·log n_shard), flat in TOTAL shard count at fixed R.
    *
    * Recall is approximate exactly like IVF probe pruning: a true
    * neighbor in an unprobed cluster is invisible (RoutedHnswSpec
    * asserts the ≥0.95 floor on the probe set; `R = numShards`
    * degenerates to the full fan-out and answers identically to
    * [[searchIndex]]).
    *
    * **Skew control — size-bounded SUB-SHARDS.** Cluster sharding
    * inherits cluster skew, and an HNSW graph builds single-threaded
    * per shard, so one hot cluster would bound the whole build (and
    * every probe of that cell) by a giant serial task — measured on a
    * 1M clustered corpus: one routed cell absorbed 17 CPU-minutes
    * while 31 cores idled. Each routed CELL therefore splits into
    * `ceil(cellRows / targetShardRows)` hash sub-shards
    * (`shard_id = cell · SubFactor + hash(id) mod subs` — same ~12.5k
    * node budget as the hash layout), restoring the fixed per-task
    * bound; a probe of cell c walks all of c's sub-shards, so walk
    * cost per query is O(R · cellRows/target) graphs — still flat in
    * TOTAL shard count. Row schema, partitioning, and every
    * downstream reader ([[searchIndex]], [[restoreServing]]) are
    * unchanged — routing is a LAYOUT choice plus a sidecar, not a new
    * format.
    */
  val RoutedSubFactor = 4096
  val RoutedTargetShardRows = 12500L

  def buildIndexTableRouted(embeddings: DataFrame, router: Ivf.Quantizer,
      replicas: Int = 3,
      m: Int = 16, efConstruction: Int = 200, vectorCol: String = "vector",
      idCol: String = "fragment_id", docCol: Option[String] = None,
      targetShardRows: Long = RoutedTargetShardRows): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val docExpr = docCol.map(c => col(c).cast("string"))
      .getOrElse(col(idCol).cast("string"))
    // REPLICATED assignment (default 3): a vector lands in its
    // `replicas` nearest cells, so boundary vectors stay reachable
    // from both sides of a cluster cut — the Ivf multi-assign lesson
    // (cell pruning is weakest on BETWEEN-cluster queries). Measured on
    // the testdata (RoutedSweepGen, 16 shards): single-assignment
    // R=4 routing recalls only ~0.6; replicas=3 at R=6 clears 0.97 on
    // both verify sfs — the default knobs RoutedHnswSpec pins. Storage
    // and build cost scale ×replicas; per-query walk cost is unchanged.
    // Replicas of one vector land in DISTINCT cells by construction,
    // so the routed merge dedupes ids across cells only.
    val celled = embeddings.select(col(idCol).cast("string").as("__id"),
        col(vectorCol).as("__vec"), docExpr.as("__doc"))
      .select(col("__id"), col("__vec"), col("__doc"),
        explode(Ivf.multiAssignCol(col("__vec"), router, replicas))
          .as("__cell0"))
      .select(col("__id"), col("__vec"), col("__doc"),
        col("__cell0").cast("int").as("__cell"))
    // per-cell row counts: k rows to the driver, broadcast back as the
    // sub-shard fanout map (deterministic — a pure function of the data)
    val subsOf: Map[Int, Int] = celled.groupBy(col("__cell"))
      .agg(count(lit(1)).as("n"))
      .collect().map { r =>
        val n = r.getLong(1)
        r.getInt(0) ->
          math.max(1, math.ceil(n.toDouble / targetShardRows).toInt)
      }.toMap
    require(subsOf.valuesIterator.forall(_ < RoutedSubFactor),
      s"a routed cell needs >= $RoutedSubFactor sub-shards — raise " +
        "SubFactor or targetShardRows")
    val subsB = spark.sparkContext.broadcast(subsOf)
    celled
      .as[(String, Array[Float], String, Int)]
      .map { case (id, v, doc, cell) =>
        val subs = subsB.value(cell)
        val sub = if (subs == 1) 0
          else ((id.hashCode % subs) + subs) % subs
        (id, v, doc, cell * RoutedSubFactor + sub)
      }
      .groupByKey(_._4)
      .flatMapGroups { (shard, it) =>
        buildShard(shard, it.map(r => (r._1, r._2, r._3)).toArray, m,
          efConstruction)
      }
      .toDF("shard_id", "node_idx", idCol, vectorCol, "links", "doc_id",
        "vec_hash")
      // the ROUTER fingerprint rides in every adjacency row (constant —
      // RLE'd to nothing on disk): shard_id is only meaningful under
      // the router that assigned it, so [[searchIndexRouted]] refuses
      // to walk an adjacency whose stamp disagrees with the router it
      // was handed — the ivf_q_hash contract extended to the routed
      // layout (a torn adjacency/sidecar pair, or a retrained router
      // against a stale adjacency, would otherwise silently misroute)
      .withColumn("router_hash", lit(Ivf.contentHash(router)))
  }

  /** Persist a routed index: the adjacency partitioned by shard plus
    * the router sidecar at `<path>.router.txt` ([[Ivf.save]] — exact
    * Float round-trip). A torn pair IS a hard error at read time: every
    * adjacency row carries `router_hash` = [[Ivf.contentHash]] of the
    * router that assigned its shard, and [[searchIndexRouted]] requires
    * it to match the router it routes with — same discipline as IVF's
    * ivf_q_hash sidecar guard.
    */
  def saveIndexRouted(embeddings: DataFrame, path: String,
      router: Ivf.Quantizer, replicas: Int = 3, m: Int = 16,
      efConstruction: Int = 200, vectorCol: String = "vector",
      idCol: String = "fragment_id", docCol: Option[String] = None): Unit = {
    buildIndexTableRouted(embeddings, router, replicas, m, efConstruction,
      vectorCol, idCol, docCol)
      .write.mode("overwrite").partitionBy("shard_id").parquet(path)
    Ivf.save(router.copy(replicas = replicas), s"$path.router.txt")
  }

  /** A restored, driver/serving-process-resident copy of a persisted
    * index: every shard graph in memory, answering ONE query at a time
    * with no Spark job on the query path. This is the online-ANN serving
    * boundary made concrete: Spark builds and maintains the index (write
    * time, [[saveIndex]]/[[HnswMaintenance]]), batch analytics and the
    * SQL rewrite walk it distributed ([[searchIndex]]), and the serve
    * path walks THIS: [[VectorSearch.dense]] (`hybrid-search`,
    * `hnsw-search`) keeps one per session in a `StageCache` slot — the
    * same division as the reference, whose serving index lives inside
    * postgres/pgvector (storage/schema.py:78-84) while batch work runs
    * outside. The collect here is the index itself — a serving node's
    * working set by definition (pgvector holds it in shared_buffers the
    * same way); it is bounded by index bytes, never by corpus text. At
    * 100 TB the index table is sharded wider than one node and this
    * restore takes a shard-id subset per serving node — the signature
    * already permits it (filter the DataFrame first).
    */
  final class ServingIndex private[search] (shards: Array[Index]) {
    /** Number of restored shard graphs. */
    def numShards: Int = shards.length
    /** Total nodes across shards. */
    def size: Int = shards.map(_.size).sum

    /** Point query: search every shard graph, merge by (sim desc, id asc)
      * — identical semantics to [[searchIndex]] at equal `ef`, without a
      * job launch, including the same top-k clamp (a drop-in caller must
      * see the same result counts at the k boundaries).
      * O(shards · ef · log n_shard) distance ops.
      */
    def search(q: Array[Float], topK: Int, ef: Int): Array[(String, Double)] = {
      val k = VectorSearch.clampTopK(topK)
      val merged = new mutable.ArrayBuffer[(String, Double)]
      shards.foreach(g => merged ++= g.search(q, k, ef))
      merged.sortBy { case (id, sim) => (-sim, id) }.take(k).toArray
    }

    /** FILTERED point query (the reference's primary serving shape:
      * `WHERE view/lang … ORDER BY <=> LIMIT k` inside the index walk,
      * retrieval/search.py:89-124): `allow` is the metadata predicate
      * evaluated per node ID — a serving node closes over its metadata
      * map or an eligible-ID set. Each shard graph walks with the
      * result-side filter ([[Index.searchFiltered]]); merge rules match
      * [[search]]. `ef ≥ max shard size` ⇒ exact filtered top-k.
      */
    def searchFiltered(q: Array[Float], topK: Int, ef: Int,
        allow: String => Boolean): Array[(String, Double)] = {
      val k = VectorSearch.clampTopK(topK)
      val merged = new mutable.ArrayBuffer[(String, Double)]
      shards.foreach(g => merged ++= g.searchFiltered(q, k, ef, allow))
      merged.sortBy { case (id, sim) => (-sim, id) }.take(k).toArray
    }
  }

  /** M is not persisted in the adjacency table, but it is recoverable
    * from it: levels ≥ 1 cap neighbor lists at M (level 0 at 2M), and a
    * built graph of any size saturates the cap somewhere. Max observed
    * level-≥1 list length is therefore the builder's M; an all-level-0
    * graph (tiny shard) falls back to half the max level-0 length, then
    * to the build default. Matters only if insertion is ever invoked on
    * a restored graph (mMax0/mL derive from M) — the search path reads
    * links verbatim.
    */
  private def deriveM(
      rows: Iterable[(Int, Int, String, Array[Float], Array[Array[Int]])]): Int = {
    var upper = 0
    var level0 = 0
    rows.foreach { case (_, _, _, _, ls) =>
      if (ls.nonEmpty) level0 = math.max(level0, ls(0).length)
      var lv = 1
      while (lv < ls.length) { upper = math.max(upper, ls(lv).length); lv += 1 }
    }
    if (upper > 0) upper
    else if (level0 > 0) math.max(1, (level0 + 1) / 2)
    else DefaultM
  }

  /** Restore a persisted adjacency table ([[saveIndex]]) into a
    * [[ServingIndex]]. Pass a pre-filtered DataFrame (e.g.
    * `index.filter(col("shard_id") < 8)`) to restore a subset of shards
    * on one serving node. Graph parameters are recovered from the
    * adjacency itself ([[deriveM]]), not assumed.
    */
  def restoreServing(index: DataFrame, idCol: String = "fragment_id")
      : ServingIndex =
    new ServingIndex(restoreShards(index, idCol).map(_._2))

  private def restoreShards(index: DataFrame, idCol: String)
      : Array[(Int, Index)] = {
    val spark = index.sparkSession
    import spark.implicits._
    val rows = index.select(col("shard_id").cast("int"),
        col("node_idx").cast("int"), col(idCol).cast("string"),
        col("vector"), col("links"))
      .as[(Int, Int, String, Array[Float], Array[Array[Int]])]
      .collect() // the serving node's working set — see ServingIndex doc
    rows.groupBy(_._1).toArray.sortBy(_._1).map { case (sh, rs) =>
      val sorted = rs.sortBy(_._2)
      val g = new Index(sorted.head._4.length, deriveM(sorted), 0)
      g.importRows(sorted.iterator.map(r => (r._2, r._3, r._4, r._5)).toSeq)
      (sh, g)
    }
  }

  /** A restored ROUTED index on a serving node: the same in-memory
    * working set as [[ServingIndex]] (and, like it, the serve path's
    * walk: `hnsw-search-routed`, `hybrid-search` over a routed index),
    * but shard graphs are keyed by their router CELL and a point query
    * walks only its `probeCells` nearest cells' sub-graphs — the
    * layout's flat-in-shard-count property carried onto the
    * no-Spark-job serving path (at 800 shards the unrouted restore walks
    * all 800 graphs per query; this walks R·subs). Replicated layouts answer one vector from several probed
    * cells with IDENTICAL (id, sim) rows — the merge dedupes by id.
    * `probeCells ≥ router.k` degenerates to the full fan-out.
    */
  final class RoutedServingIndex private[search] (
      cells: Map[Int, Array[Index]], router: Ivf.Quantizer) {
    def numCells: Int = cells.size
    def size: Int = cells.valuesIterator.map(_.map(_.size).sum).sum

    def search(q: Array[Float], topK: Int, ef: Int, probeCells: Int)
        : Array[(String, Double)] = {
      val k = VectorSearch.clampTopK(topK)
      val merged = new mutable.ArrayBuffer[(String, Double)]
      Ivf.nearestLists(q, router, probeCells).foreach { c =>
        cells.getOrElse(c, Array.empty)
          .foreach(g => merged ++= g.search(q, k, ef))
      }
      merged.distinct.sortBy { case (id, sim) => (-sim, id) }
        .take(k).toArray
    }

    def searchFiltered(q: Array[Float], topK: Int, ef: Int,
        probeCells: Int, allow: String => Boolean)
        : Array[(String, Double)] = {
      val k = VectorSearch.clampTopK(topK)
      val merged = new mutable.ArrayBuffer[(String, Double)]
      Ivf.nearestLists(q, router, probeCells).foreach { c =>
        cells.getOrElse(c, Array.empty)
          .foreach(g => merged ++= g.searchFiltered(q, k, ef, allow))
      }
      merged.distinct.sortBy { case (id, sim) => (-sim, id) }
        .take(k).toArray
    }
  }

  /** Restore a [[saveIndexRouted]] adjacency into a
    * [[RoutedServingIndex]]. The router must be the one that assigned
    * the adjacency — enforced against the stamped `router_hash` column
    * (hard error on mismatch, the searchIndexRouted guard applied at
    * restore time, where it is one driver-side comparison per row
    * group instead of a per-probe filter).
    */
  def restoreServingRouted(index: DataFrame, router: Ivf.Quantizer,
      idCol: String = "fragment_id"): RoutedServingIndex = {
    val h = Ivf.contentHash(router)
    if (index.columns.contains("router_hash")) {
      val bad = index.filter(col("router_hash").isNotNull &&
        col("router_hash") =!= lit(h)).limit(1)
      require(bad.isEmpty,
        "hnsw router_hash mismatch: the routed adjacency was not " +
          "assigned by this router (torn adjacency/sidecar pair or " +
          "retrained router) — refusing to restore for serving; re-run " +
          "hnsw-index-routed")
    }
    val byCell = restoreShards(index, idCol)
      .groupBy(_._1 / RoutedSubFactor).view
      .mapValues(_.map(_._2)).toMap
    new RoutedServingIndex(byCell, router)
  }

  /** Distributed batch search over the persisted adjacency, optionally
    * FILTERED: each shard's rows regroup into one task, the graph
    * RESTORES from its stored neighbor lists (no re-insertion, no
    * distance computations), answers the broadcast batch, and the
    * per-query window merges — O(index bytes) + O(queries·ef·log
    * n_shard), never a rebuild. The batch and SQL path, and the serve's
    * fallback for an adjacency too large to hold resident
    * ([[VectorSearch.dense]]). `predicate` is any boolean Column over
    * the index DataFrame's columns (join metadata onto the adjacency
    * first if the filter lives elsewhere — the adjacency carries
    * `doc_id` for exactly that). Eligibility is evaluated ONCE per node
    * in the scan; inside each shard the graph restores in full
    * (navigation must traverse disallowed nodes) and the walk collects
    * eligible nodes only ([[Index.searchFiltered]]). `ef ≥ max shard
    * size` ⇒ exact filtered batch KNN — the unfiltered witness carries
    * over.
    *
    * Output schema (since r11): `(query_id, <idCol>, similarity,
    * vec_hash, rank)` — `vec_hash` is the per-node content witness the
    * SQL rewrite's binding guard consumes (NULL for legacy index tables
    * written before the column existed). Consumers that relied on the
    * pre-r11 4-column shape should select their columns by name.
    */
  def searchIndex(index: DataFrame, queries: Seq[(String, Array[Float])],
      topK: Int, ef: Int, idCol: String = "fragment_id",
      predicate: Option[Column] = None): DataFrame =
    searchIndexCore(index, queries, topK, ef, idCol, predicate,
      routes = None)

  /** ROUTED batch search over a [[saveIndexRouted]] adjacency: each
    * query is routed to its `probeShards` nearest router CELLS
    * ([[Ivf.nearestLists]] against the router — the same (distance, id)
    * tie rule as every IVF probe), the scan partition-prunes to the
    * UNION of the routed cells' sub-shard ranges, and inside a shard
    * task only the queries routed THERE walk its graph — per-query
    * walk cost is O(probeShards · cellRows/target) graphs regardless
    * of total shard count. `probeShards >= router.k` ⇒ identical to
    * [[searchIndex]].
    */
  def searchIndexRouted(index: DataFrame,
      queries: Seq[(String, Array[Float])], topK: Int, ef: Int,
      router: Ivf.Quantizer, probeShards: Int,
      idCol: String = "fragment_id",
      predicate: Option[Column] = None): DataFrame = {
    val routes: Map[String, Array[Int]] = queries.map { case (qid, qv) =>
      qid -> Ivf.nearestLists(qv, router, probeShards).toArray
    }.toMap
    val probedCells = routes.valuesIterator.flatten.toSeq.distinct.sorted
    // OR-of-ranges over the partition column: each routed cell's
    // sub-shard block [cell·F, (cell+1)·F) — prunes at the file source
    val pruned = index.filter(probedCells.map { c =>
      col("shard_id") >= c * RoutedSubFactor &&
        col("shard_id") < (c + 1) * RoutedSubFactor
    }.reduce(_ || _))
    // router↔adjacency binding guard: shard ids are meaningless under a
    // different router, so a stamped adjacency (buildIndexTableRouted)
    // must have been assigned by THIS router or the walk would silently
    // probe the wrong cells — hard error instead. Evaluated per probed
    // row but the comparison is against an RLE'd constant column; rows
    // predating the stamp (NULL) pass unchecked, the legacy contract of
    // every hash guard here.
    val guarded =
      if (!index.columns.contains("router_hash")) pruned
      else {
        val h = Ivf.contentHash(router)
        pruned.filter(when(
          col("router_hash").isNull || col("router_hash") === lit(h),
          lit(true))
          .otherwise(raise_error(lit(
            "hnsw router_hash mismatch: the routed adjacency was not " +
              "assigned by this router (torn adjacency/sidecar pair or " +
              "retrained router) — refusing to route"))))
      }
    searchIndexCore(guarded, queries, topK, ef, idCol, predicate,
      routes = Some(routes))
  }

  private def searchIndexCore(index: DataFrame,
      queries: Seq[(String, Array[Float])], topK: Int, ef: Int,
      idCol: String, predicate: Option[Column],
      routes: Option[Map[String, Array[Int]]]): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val k = VectorSearch.clampTopK(topK)
    val qB = spark.sparkContext.broadcast(queries.toArray)
    val routesB = spark.sparkContext.broadcast(routes)
    // a NULL predicate value is "not eligible", matching SQL WHERE
    val allowCol = predicate.map(p => coalesce(p, lit(false)))
      .getOrElse(lit(true))
    // the per-node vec_hash content witness rides along when the table
    // carries it (post-r11 writers) so serving consumers — the SQL
    // rewrite's binding guard — get the k hashes for free from the
    // rows this walk already deserializes, instead of paying a second
    // adjacency scan; legacy tables yield NULLs
    val hashCol =
      if (index.columns.contains("vec_hash")) col("vec_hash").cast("long")
      else lit(null).cast("long")
    val typed = index.select(col("shard_id").cast("int"),
        col("node_idx").cast("int"), col(idCol).cast("string"),
        col("vector"), col("links"), allowCol.cast("boolean"),
        hashCol.as("vec_hash"))
      .as[(Int, Int, String, Array[Float], Array[Array[Int]], Boolean,
        Option[Long])]
    val filtered = predicate.isDefined
    val perShard = typed.groupByKey(_._1).flatMapGroups { (shard, it) =>
      val rows = it.toArray.sortBy(_._2)
      if (rows.isEmpty) Iterator.empty
      else {
        val g = new Index(rows.head._4.length,
          deriveM(rows.map(r => (r._1, r._2, r._3, r._4, r._5))), 0)
        g.importRows(rows.iterator.map(r => (r._2, r._3, r._4, r._5)).toSeq)
        val hashOf = rows.iterator.map(r => r._3 -> r._7).toMap
        // routed mode: only the queries routed to THIS shard's CELL
        // walk it (shard_id = cell · SubFactor + sub)
        val qs = routesB.value match {
          case None => qB.value.iterator
          case Some(rt) => qB.value.iterator
            .filter(q => rt(q._1).contains(shard / RoutedSubFactor))
        }
        if (!filtered) {
          qs.flatMap { case (qid, qv) =>
            g.search(qv, k, ef).map { case (id, sim) =>
              (qid, id, sim, hashOf(id))
            }
          }
        } else {
          val allowed = rows.iterator.filter(_._6).map(_._3)
            .to(mutable.HashSet)
          qs.flatMap { case (qid, qv) =>
            g.searchFiltered(qv, k, ef, allowed)
              .map { case (id, sim) => (qid, id, sim, hashOf(id)) }
          }
        }
      }
    }.toDF("query_id", idCol, "similarity", "vec_hash")
    // routed indexes may be REPLICATED (buildIndexTableRouted): one
    // vector answers from several probed shards with identical
    // (id, sim, hash) rows — collapse before ranking. The candidate set
    // is ≤ probedShards·k rows per query, so this dedupe is tiny.
    val merged = if (routes.isDefined)
      perShard.dropDuplicates("query_id", idCol)
    else perShard
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("similarity").desc, col(idCol))
    merged.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
