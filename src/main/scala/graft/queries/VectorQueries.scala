package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.search.{HnswMaintenance, VectorSearch}

/** Vector-search operators (SURVEY.md §2.5 T1-T3) on the `embeddings`
  * testdata table, with exact DuckDB oracles.
  *
  * Oracle-parity rule for floats: similarity is computed with the same
  * IEEE-754 operation sequence on both sides — element-wise float→double
  * multiply, strict left-to-right summation (Spark `aggregate`, DuckDB
  * `list_reduce`), then sqrt/divide — so results match bit-for-bit.
  *
  * Scale notes: the exact-KNN plan is scan → in-line score → per-partition
  * top-k heap (TakeOrderedAndProject) — no shuffle, no global sort; batch
  * KNN broadcasts the query set and answers N queries in ONE scan. The LSH
  * bucketing (v3) is the 100 TB path: deterministic hyperplanes from md5
  * mean buckets can be computed at write time and used as a partition
  * column, turning ANN into partition pruning.
  */
object VectorQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Spark-side strict-order cosine — see [[VectorSearch.dot]]. */
  private def cosine(a: Column, b: Column): Column = VectorSearch.cosine(a, b)

  /** DuckDB-side identical arithmetic (zero-norm → 0.0, mirroring
    * VectorCosine's NaN guard).
    */
  private[queries] def duckCosine(a: String, b: String): String = {
    def norm2(v: String) =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($v)+1), i -> $v[i]::DOUBLE * $v[i]::DOUBLE)), (acc, x) -> acc + x)"
    val dotExpr =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, x) -> acc + x)"
    s"(CASE WHEN ${norm2(a)} = 0.0 OR ${norm2(b)} = 0.0 THEN 0.0 ELSE $dotExpr / (sqrt(${norm2(a)}) * sqrt(${norm2(b)})) END)"
  }

  // T1/T2 — exact KNN: query vector = embedding of vec_id 0, top-10 by
  // cosine. Plans as TakeOrderedAndProject over a single broadcast-joined
  // scan. Reference: retrieval/search.py:99-124.
  private val v1Knn: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("query_vec"))
    e.crossJoin(broadcast(q))
      .withColumn("similarity", cosine(col("embedding"), col("query_vec")))
      .select(col("vec_id"), col("label"), col("similarity"))
      .orderBy(col("similarity").desc, col("vec_id"))
      .limit(10)
  }

  private val v1Sql =
    s"""SELECT e.vec_id, e.label, ${duckCosine("e.embedding", "q.query_vec")} AS similarity
       |FROM embeddings e, (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 0) q
       |ORDER BY similarity DESC, vec_id LIMIT 10""".stripMargin

  // T3 — batch KNN: 5 queries answered in one scan; per-query top-5 via a
  // rank window. Reference: api/cli/quality.py:68-100 (45 serial KNNs).
  private val v2BatchKnn: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val scored = e.crossJoin(broadcast(q))
      .withColumn("similarity", cosine(col("embedding"), col("query_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("similarity").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id"), col("similarity"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val v2Sql =
    s"""SELECT query_id, rank, vec_id, similarity FROM (
       |  SELECT q.query_id, e.vec_id, ${duckCosine("e.embedding", "q.query_vec")} AS similarity,
       |    ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY ${duckCosine("e.embedding", "q.query_vec")} DESC, e.vec_id) AS rank
       |  FROM embeddings e, (SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 5) q) t
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---- v3: LSH bucketing (the ANN scale path) ----
  // Deterministic pseudo-random hyperplanes: plane(p)[i] derives from
  // md5("plane|p|i") → a 15-hex-digit integer → centered to [-0.5, 0.5].
  // bucket = bit vector of sign(dot(embedding, plane)). Integer-derived
  // plane components and strict-order dots keep both engines bit-identical.
  private val NumPlanes = 8
  private val PlaneDim = 64 // embeddings testdata dimension

  /** Plane components precomputed ON THE DRIVER from the md5 formula
    * component_i = hexint15(md5("plane|p|" + i)) / 2^60 - 0.5 (centered in
    * [-0.5, 0.5) — a 15-hex-digit value spans 60 bits) and folded into the
    * plan as literals: per-row work is pure multiply-add instead of
    * 2 md5+conv per (row, plane, element) — no hashing in the scan. The
    * DuckDB oracle embeds the same literals (Double.toString round-trips
    * exactly through DuckDB's parser).
    */
  private def planeComponents(p: Int): Array[Double] =
    Array.tabulate(PlaneDim) { i =>
      val hex = graft.functions.Hashing.md5Hex(s"plane|$p|$i").take(15)
      java.lang.Long.parseLong(hex, 16).toDouble / 1.152921504606846976e18 - 0.5
    }

  private def planeDot(vec: Column, p: Int): Column =
    aggregate(
      zip_with(vec, lit(planeComponents(p)), (x, c) => x.cast("double") * c),
      lit(0.0), (acc, x) => acc + x)

  private def duckPlaneDot(vec: String, p: Int): String = {
    val lits = planeComponents(p).map(_.toString).mkString("[", ", ", "]")
    s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($vec)+1),
       | i -> $vec[i]::DOUBLE * ($lits)[i])), (acc, x) -> acc + x)""".stripMargin.replaceAll("\n", " ")
  }

  // v3 — LSH bucket histogram: 8 sign bits → bucket id; GROUP BY bucket.
  // At scale the bucket id becomes a write-time partition column and ANN
  // probes only matching buckets (partition pruning).
  private val v3LshBuckets: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val bucket = (0 until NumPlanes).map { p =>
      (when(planeDot(col("embedding"), p) >= 0, 1).otherwise(0) * (1 << p))
    }.reduce(_ + _)
    e.withColumn("bucket", bucket)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("bucket"))
  }

  private val v3Sql = {
    val bucketExpr = (0 until NumPlanes).map { p =>
      s"(CASE WHEN ${duckPlaneDot("embedding", p)} >= 0 THEN 1 ELSE 0 END * ${1 << p})"
    }.mkString(" + ")
    s"""SELECT ($bucketExpr) AS bucket, COUNT(*) AS n_vectors
       |FROM embeddings GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  // v4 — embedding near-duplicate pairs with label blocking: pairs within
  // the same label block scored by cosine. The block join keeps the pair
  // count linear-ish instead of O(n²) — the 100 TB shape is "bucket by
  // coarse key (LSH/IVF), compare within buckets". Threshold 0.3 sits at
  // the ~99th percentile of the synthetic embeddings' within-label cosine
  // (max 0.47 at sf0.01) so the check is non-vacuous — real near-dup
  // pipelines would use ~0.9 on real embedding distributions.
  private val v4NearDup: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
      .repartition(col("label"))
      // norms compute ONCE per row before the join — inside the join each
      // pair would pay 3 dot products instead of 1
      .select(col("vec_id"), col("embedding"), col("label"),
        sqrt(VectorSearch.dot(col("embedding"), col("embedding"))).as("nrm"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"),
      col("label"), col("nrm").as("nrm_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"),
      col("label"), col("nrm").as("nrm_b"))
    a.join(b, "label")
      .filter(col("id_a") < col("id_b"))
      .withColumn("similarity",
        VectorSearch.dot(col("vec_a"), col("vec_b")) /
          (col("nrm_a") * col("nrm_b")))
      .filter(col("similarity") > 0.3)
      .select(col("label"), col("id_a"), col("id_b"), col("similarity"))
      .orderBy(col("label"), col("id_a"), col("id_b"))
  }

  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, x) -> acc + x)"

  private val v4Sql =
    s"""WITH e AS (SELECT vec_id, embedding, label,
       |  sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings)
       |SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
       |  ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS similarity
       |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) > 0.3
       |ORDER BY label, id_a, id_b""".stripMargin

  // V11 — SemDeDup (semantic dedup, public recipe: cluster embeddings,
  // then drop within-cluster near-duplicates by cosine). Clustering here
  // is one nearest-seed assignment pass over K fixed seed vectors (the
  // first K ids — deterministic; at 100 TB the seeds are k-means||
  // centroids computed from a bounded sample, same shape as the IVF
  // trainer in [[graft.search.Ivf]]). The argmax is a map-side partial
  // `min(struct(-sim, seed))` — one row per vector reaches the shuffle,
  // not one per (vector, seed). The prune rule "discard v when a
  // lower-id cluster-mate has cosine > τ" makes the KEPT set pairwise
  // ≤ τ within every cluster (witness a<b kept with sim>τ would have
  // discarded b) without any iterative sweep. The pair join is keyed on
  // cluster_id, so the quadratic term is bounded per cluster — at scale
  // K grows with N to hold cluster size constant (SemDeDup's own
  // setting), which this plan inherits for free. Output: per-cluster
  // member/discard census, exact longs.
  private val SemSeeds = 8
  private val SemTau = 0.3

  private val v11SemDedup: Q = (s, dir) => {
    // The assignment feeds three consumers (member census + both pair-join
    // sides) — cache it once instead of re-scoring N×K cosines per
    // consumer. At scale this is the persisted cluster-assignment table
    // every SemDeDup run materializes anyway.
    val assigned = StageCache.getOrCache(s, s"semdedup_assign:$dir") {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
      val seeds = e.filter(col("vec_id") < SemSeeds)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
      e.crossJoin(broadcast(seeds))
        .withColumn("__nsim",
          cosine(col("embedding"), col("seed_vec")) * lit(-1.0d))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("__nsim"), col("seed_id"), col("embedding")))
          .as("__m"))
        .select(col("__m.seed_id").as("cluster_id"), col("vec_id"),
          col("__m.embedding").as("embedding"))
    }
    val a = assigned.select(col("cluster_id"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"))
    val b = assigned.select(col("cluster_id"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"))
    val discarded = a.join(b, Seq("cluster_id"))
      .filter(col("id_a") < col("id_b") &&
        cosine(col("emb_a"), col("emb_b")) > SemTau)
      .select(col("cluster_id"), col("id_b")).distinct()
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_discarded"))
    assigned.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
      .join(discarded, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_members"),
        coalesce(col("n_discarded"), lit(0L)).as("n_discarded"))
      .orderBy(col("cluster_id"))
  }

  private val v11Sql =
    s"""WITH assign AS (
       |  SELECT vec_id, embedding, cluster_id FROM (
       |    SELECT e.vec_id, e.embedding, s.seed_id AS cluster_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCosine("e.embedding", "s.sv")} DESC, s.seed_id) AS rn
       |    FROM embeddings e,
       |      (SELECT vec_id AS seed_id, embedding AS sv FROM embeddings
       |       WHERE vec_id < $SemSeeds) s) WHERE rn = 1),
       |disc AS (
       |  SELECT a.cluster_id AS cluster_id, b.vec_id AS id_b
       |  FROM assign a JOIN assign b
       |    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
       |  WHERE ${duckCosine("a.embedding", "b.embedding")} > $SemTau
       |  GROUP BY 1, 2)
       |SELECT m.cluster_id, m.n_members,
       |  CAST(COALESCE(dd.n, 0) AS BIGINT) AS n_discarded
       |FROM (SELECT cluster_id, count(*) AS n_members FROM assign
       |      GROUP BY 1) m
       |LEFT JOIN (SELECT cluster_id, count(*) AS n FROM disc GROUP BY 1) dd
       |  USING (cluster_id)
       |ORDER BY cluster_id""".stripMargin

  // V12 — Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
  // 1998): the RAG diversification pass that keeps a result page from
  // being k copies of the same near-duplicate chunk. Greedy: each step
  // picks argmax over the remaining pool of
  // `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`, ties on vec_id.
  // Shape at 100 TB: the engine does all corpus-sized work (one scan for
  // the relevance top-pool — the v1 TakeOrderedAndProject plan — and one
  // pool×pool cosine block, 400 rows); the greedy itself is O(k·pool)
  // over OUTPUT-bounded rows, the A2/A3 k-bounded-collect family. λ is
  // exactly 0.5 (one binary digit), so `0.5·rel − 0.5·maxsim` is the
  // identical IEEE op sequence on both engines; the oracle replays the
  // greedy as a recursive CTE carrying the selected-set as list state
  // (the x15 precedent) with min(struct) as the argmax.
  private val MmrPool = 20
  private val MmrK = 8

  /** The corpus-sized stage of v12, exposed so PlanShapeSpec can assert
    * its plan (TakeOrderedAndProject over a broadcast-joined scan — the
    * v1 shape); the query function's own output plan is a driver-local
    * table by construction and proves nothing about this stage.
    */
  private[graft] def mmrPool(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("rel", cosine(col("embedding"), col("qv")))
      .select(col("vec_id"), col("embedding"), col("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(MmrPool)
  }

  private val v12Mmr: Q = (s, dir) => {
    import s.implicits._
    val pool = mmrPool(s, dir)
    val pairRows = pool
      .select(col("vec_id").as("ca"), col("embedding").as("ea"), col("rel"))
      .crossJoin(pool.select(col("vec_id").as("cb"), col("embedding").as("eb")))
      .withColumn("sim", cosine(col("ea"), col("eb")))
      .select(col("ca"), col("rel"), col("cb"), col("sim"))
      .collect() // pool² = 400 rows — output-bounded by construction
    val rel = pairRows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sim = pairRows.map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val cands = rel.keys.toSeq.sorted
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    while (selected.length < MmrK && selected.length < cands.length) {
      val chosen = cands.filterNot(c => selected.exists(_._1 == c)).map { c =>
        val maxSim =
          if (selected.isEmpty) 0.0
          else selected.map(sel => sim((c, sel._1))).max
        (c, rel(c), 0.5 * rel(c) - 0.5 * maxSim)
      }.minBy { case (vid, _, score) => (-score, vid) }
      selected += chosen
    }
    selected.toSeq.zipWithIndex
      .map { case ((vid, r, sc), i) => (i + 1, vid, r, sc) }
      .toDF("rank", "vec_id", "relevance", "mmr_score")
  }

  private val v12Sql =
    s"""WITH RECURSIVE
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |pool AS (
       |  SELECT e.vec_id, e.embedding, ${duckCosine("e.embedding", "q.qv")} AS rel
       |  FROM embeddings e, q WHERE e.vec_id <> 0
       |  ORDER BY rel DESC, e.vec_id LIMIT $MmrPool),
       |pairs AS (
       |  SELECT a.vec_id AS ca, b.vec_id AS cb,
       |    ${duckCosine("a.embedding", "b.embedding")} AS sim
       |  FROM pool a, pool b),
       |mmr(rank, vec_id, relevance, score, selected) AS (
       |  SELECT 1, b.b['vid'], b.b['rel'], b.b['sc'], [b.b['vid']]
       |  FROM (SELECT min(struct_pack(negs := -(0.5*rel - 0.5*0.0),
       |          vid := vec_id, rel := rel, sc := 0.5*rel - 0.5*0.0)) AS b
       |        FROM pool) b
       |  UNION ALL
       |  SELECT m.rank + 1, c.b['vid'], c.b['rel'], c.b['sc'],
       |    list_append(m.selected, c.b['vid'])
       |  FROM mmr m CROSS JOIN LATERAL (
       |    SELECT min(struct_pack(negs := -(0.5*p.rel - 0.5*mx.msim),
       |        vid := p.vec_id, rel := p.rel,
       |        sc := 0.5*p.rel - 0.5*mx.msim)) AS b
       |    FROM pool p JOIN (
       |      SELECT pr.ca AS vid2, max(pr.sim) AS msim FROM pairs pr
       |      WHERE list_contains(m.selected, pr.cb) GROUP BY pr.ca) mx
       |    ON p.vec_id = mx.vid2
       |    WHERE NOT list_contains(m.selected, p.vec_id)
       |  ) c
       |  WHERE m.rank < $MmrK AND c.b['vid'] IS NOT NULL
       |)
       |SELECT rank, vec_id, relevance, score AS mmr_score FROM mmr
       |ORDER BY rank""".stripMargin

  // V13 — metadata-filtered vector search: the reference's F1/F2 filters
  // composed with KNN (`WHERE label = … ORDER BY cosine DESC LIMIT k`,
  // the pgvector filtered-index shape, retrieval/search.py:99-124 +
  // filters.py). The predicate sits UNDER the scoring projection, so
  // pushdown prunes rows before a single distance computes — and on a
  // label/list-partitioned write-time layout it becomes partition
  // pruning; the plan stays v1's TakeOrderedAndProject, top-k heap over
  // the eligible subset only.
  private val v13FilteredKnn: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.filter(col("label") === 2 && col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("similarity", cosine(col("embedding"), col("qv")))
      .select(col("vec_id"), col("label"), col("similarity"))
      .orderBy(col("similarity").desc, col("vec_id"))
      .limit(10)
  }

  private val v13Sql =
    s"""SELECT e.vec_id, e.label, ${duckCosine("e.embedding", "q.qv")} AS similarity
       |FROM embeddings e,
       |  (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
       |WHERE e.label = 2 AND e.vec_id <> 0
       |ORDER BY similarity DESC, vec_id LIMIT 10""".stripMargin

  // V15 — FILTERED ANN through the index paths (VERDICT r8 task #1): the
  // reference's primary query (`WHERE view/lang … ORDER BY embedding <=>
  // $q LIMIT k` runs the metadata predicates INSIDE the pgvector index
  // walk, retrieval/search.py:89-124) answered by every index family at
  // its exactness configuration, all against ONE DuckDB exact
  // filtered-KNN oracle:
  //   - exact_prefilter: the v13 plan (predicate under the scoring
  //     projection, TakeOrderedAndProject) — the baseline;
  //   - ivf_full_probe: [[graft.search.Ivf.search]] with the predicate
  //     filtering probed candidates BEFORE the re-rank; nprobe = k lists
  //     makes the probe total, so the result is exact by construction —
  //     a hash match proves the filtered index path loses nothing;
  //   - hnsw_ef_n: the filtered graph walk ([[graft.search.Hnsw]]
  //     searchIndex with predicate — navigation over all nodes, the
  //     result beam collecting eligible only); ef = n visits every node
  //     ⇒ exact filtered top-k. The walk returns IDs; the canonical
  //     cosine re-ranks them (the PQ shortlist re-rank contract), so
  //     scores are the same IEEE sequence as the oracle.
  // k is FULLY FILLED (label 2 has ≫ k eligible rows); the underfill and
  // empty-predicate edges are FilteredAnnSpec's. The per-strategy fusion
  // is k-bounded driver work (the v12 precedent); corpus-sized work runs
  // in the three Spark plans above.
  private val v15FilteredAnn: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("vector"), col("label"))
    val query = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("vector").toArray
    val pred = col("label") === 2 && col("vec_id") =!= 0

    def collectTop(df: DataFrame): Seq[(Long, Double)] =
      df.select(col("vec_id").cast("long"), col("similarity"))
        .as[(Long, Double)].collect().toSeq

    // exact pre-filter: predicate pushed under the scan (v13's shape)
    val exact = collectTop(graft.search.VectorSearch.knn(
      e.filter(pred), query, 10, vectorCol = "vector", tieBreak = "vec_id"))

    // filtered IVF at full probe (v6's trainer; probe = all k lists)
    val ivfK = 16
    val sample = e.orderBy(col("vec_id")).limit(1024)
      .select(col("vector")).as[Seq[Float]].collect().map(_.toArray)
    val quant = graft.search.Ivf.train(sample, ivfK)
    val ivfIndex = graft.search.Ivf.buildIndex(e, quant)
    val ivf = collectTop(graft.search.Ivf.search(ivfIndex, query, quant,
      10, nprobe = ivfK, vectorCol = "vector", tieBreak = "vec_id",
      predicate = Some(pred)))

    // filtered HNSW at ef = n over v10's cached adjacency table, with
    // label joined on (the adjacency carries no metadata by design)
    val n = e.count().toInt
    val adj = StageCache.getOrCache(s, s"hnsw_index:$dir",
      MediaQueries.annIndexFingerprint(dir))(
      MediaQueries.buildHnswIndex(s, dir))
    val meta = e.select(format_string("v%08d", col("vec_id")).as("__vid"),
      col("label").as("__label"), col("vec_id").as("__orig"))
    val hnswIds = graft.search.Hnsw.searchIndex(
        adj.join(meta, col("vec_id") === col("__vid"), "left"),
        Seq(("q", query)), 10, ef = n, idCol = "vec_id",
        predicate = Some(col("__label") === 2 && col("__orig") =!= 0))
      .select(col("vec_id")).as[String].collect()
      .map(_.stripPrefix("v").toLong)
    val hnsw = collectTop(
      e.filter(col("vec_id").isin(hnswIds.map(Long.box): _*))
        .withColumn("similarity", cosine(col("vector"), lit(query)))
        .orderBy(col("similarity").desc, col("vec_id"))
        .limit(10))

    Seq("exact_prefilter" -> exact, "hnsw_ef_n" -> hnsw,
        "ivf_full_probe" -> ivf)
      .flatMap { case (strategy, rows) =>
        rows.zipWithIndex.map { case ((vid, sim), i) =>
          (strategy, (i + 1).toLong, vid, sim)
        }
      }
      .toDF("strategy", "rank", "vec_id", "similarity")
      .orderBy(col("strategy"), col("rank"))
  }

  private val v15Sql =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |top AS (
       |  SELECT e.vec_id, ${duckCosine("e.embedding", "q.qv")} AS similarity
       |  FROM embeddings e, q
       |  WHERE e.label = 2 AND e.vec_id <> 0
       |  ORDER BY similarity DESC, e.vec_id LIMIT 10),
       |ranked AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY similarity DESC, vec_id)
       |    AS BIGINT) AS rank, vec_id, similarity FROM top)
       |SELECT s.strategy, r.rank, r.vec_id, r.similarity
       |FROM (VALUES ('exact_prefilter'), ('hnsw_ef_n'), ('ivf_full_probe'))
       |  s(strategy)
       |CROSS JOIN ranked r
       |ORDER BY strategy, rank""".stripMargin

  // V14 — hybrid retrieval: reciprocal-rank fusion of the BM25 keyword
  // ranking (x22's scorer) and a lexical count-vector cosine ranking —
  // the standard modern RAG setup (pgvector `<=>` + Postgres FTS fused
  // client-side; here both sides AND the fusion are one plan). The
  // "dense" side embeds each document as its term-count vector over a
  // FIXED public lexicon (engine-neutral — no hash function to match)
  // and scores against the query's count vector with the same
  // IEEE-sequence cosine the v-family pins bit-exact. RRF = Σ 1/(60+r):
  // doubles from exact integer ranks, deterministic everywhere. The
  // SPEC is corpus-wide ranks (the unchanged DuckDB oracle still
  // computes two corpus-wide ROW_NUMBER windows); the Spark PLAN — r16,
  // VERDICT r15 task 1 — computes the same rows with NO window node:
  // bounded top-C candidates (TakeOrderedAndProject) whose exact global
  // ranks come from a count-aggregate (rank = #{rows ordered at-or-
  // before}, the row_number identity). v16 remains the serving-time
  // top-C contract (fuses candidate-list positions only).
  private val hybridLexicon = Seq("spark", "stream", "vector", "join",
    "window", "batch", "customer", "table", "scan", "merge", "hash",
    "sort", "filter", "query", "data", "line")
  private val hybridQuery = Seq("spark", "stream", "vector", "window", "join")

  /** Staleness guard for the persisted hybrid-cos table: corpus
    * footprint + the lexicon/query constants baked into the scores. */
  private def hybridFingerprint(dir: String): Option[String] =
    Some(StageCache.sourceFingerprint(Seq(s"$dir/documents.parquet"),
      s"hyb=${hybridLexicon.mkString("+")},q=${hybridQuery.mkString("+")}"))

  /** The "dense" side of hybrid retrieval shared by v14 and v16: each
    * document scored by the lexical count-vector cosine against the
    * query's count vector. Rides the shared token stage (one tokenize
    * pass per session, not one per consumer) and reads through to the
    * write-time `hybrid_cos` table when `index-sketches` persisted it —
    * scores are a fixed per-row IEEE sequence, so the persisted copy is
    * byte-identical to the recompute (StageCachePersistSpec).
    */
  private[graft] def hybridCosAll(s: SparkSession, dir: String): DataFrame =
    // r16: getOrCache (was read-through-only) — v14's candidate +
    // rank-count passes and v16/v24's candidate scans now share one
    // materialization of the doc-sized (doc_id, cos) stage instead of
    // re-deriving the 16-term count-vector cosine per consumer. Values
    // are a fixed per-row IEEE sequence: partitioning-independent, safe
    // to cache (and already persisted as the write-time `hybrid_cos`).
    StageCache.getOrCache(s, s"hybrid_cos:$dir",
        hybridFingerprint(dir)) {
      val docVec = array(hybridLexicon.map(t =>
        size(filter(col("w"), x => x === t)).cast("double")): _*)
      val qVec = array(hybridLexicon.map(t =>
        lit(if (hybridQuery.contains(t)) 1.0 else 0.0)): _*)
      def dotH(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0),
          (acc, x) => acc + x)
      val n2d = dotH(docVec, docVec)
      val n2q = dotH(qVec, qVec)
      val cos = when(n2d === 0.0 || n2q === 0.0, lit(0.0))
        .otherwise(dotH(docVec, qVec) / (sqrt(n2d) * sqrt(n2q)))
      TextAnalysisQueries.wordsStage(s, dir)
        .select(col("doc_id"), cos.as("cos"))
    }

  /** The write-time hybrid-retrieval table (`index-sketches` persists
    * it): per-doc dense-side scores, partitioning-independent. */
  def writeTimeStages(s: SparkSession, dir: String): Map[String, DataFrame] =
    Map(s"hybrid_cos:$dir" -> hybridCosAll(s, dir))

  def writeTimeFingerprint(dir: String): Option[String] =
    hybridFingerprint(dir)

  /** Exact global ranks for a bounded candidate set, with no window:
    * rank(d) = #{d' : score(d') > score(d) ∨ (score(d') = score(d) ∧
    * d' ≤ d)} — the row_number-over-(score DESC, doc_id ASC) identity,
    * counting d itself. Computed as ONE single-row aggregate over the
    * full score table with a conditional sum per candidate (the
    * candidates' exact scores injected as literals): pure map-parallel
    * partial aggregation, one map-only job, nothing ever sorts or
    * single-partitions the corpus. Candidate count is bounded (≤ 2C),
    * so the expression width is a constant at any corpus size. */
  /** Candidates in rank order (score DESC, id ASC) — the order
    * [[org.apache.spark.sql.graft.RankBucket]] binary-searches. */
  private def rankSorted(cands: Seq[(Long, Double)]): Seq[(Long, Double)] =
    cands.sortBy { case (d, sc) => (-sc, d) }

  /** The per-row bucket column for one channel: position of the first
    * candidate the row sorts at-or-before (see [[RankBucket]]). */
  private def bucketCol(score: String, sorted: Seq[(Long, Double)]): Column =
    org.apache.spark.sql.graft.VectorExpressions.rankBucket(
      col(score).cast("double"), col("doc_id").cast("long"),
      sorted.map(_._2).toArray, sorted.map(_._1).toArray)

  /** rank(candidate q) = prefix sum of the bucket histogram up to q. */
  private def ranksFromHist(sorted: Seq[(Long, Double)],
      hist: Int => Long): Map[Long, Long] = {
    var acc = 0L
    sorted.zipWithIndex.map { case ((d, _), q) =>
      acc += hist(q)
      d -> acc
    }.toMap
  }

  private[graft] def exactRanks(full: DataFrame, score: String,
      cands: Seq[(Long, Double)]): Map[Long, Long] = {
    if (cands.isEmpty) return Map.empty
    val sorted = rankSorted(cands)
    val hist = full.select(bucketCol(score, sorted).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    ranksFromHist(sorted, q => hist.getOrElse(q, 0L))
  }

  private val v14HybridRrf: Q = (s, dir) => {
    import s.implicits._
    // r16 (VERDICT r15 task 1): the two corpus-wide rank windows
    // (`Window.orderBy(score)`, no partition — "Moving all data to a
    // single partition" at every scale) are gone. rrf = 1/(60+r_lex) +
    // 1/(60+r_vec) is monotone in both ranks, so a doc outside BOTH
    // channels' top-C cannot reach the top 10: its rrf < 2/(60+C+1),
    // while the ten docs with r_vec ≤ 10 each have rrf ≥ 1/70, and
    // 2/161 < 1/70 strictly at C = 100 (HybridRrfBoundSpec pins the
    // bound AND the rank identity). Three overlapped waves of bounded
    // map-only work — top-C candidates (TakeOrderedAndProject), the
    // candidates' cross-channel scores, exact ranks via [[exactRanks]] —
    // then the ≤ 2C-row fusion assembles driver-side (the v16Fused
    // precedent). Output rows are bit-identical to the windowed spec:
    // same exact integer ranks, same double arithmetic in the same
    // order — the unchanged DuckDB oracle keeps pinning that.
    // The legs share the token stage: materialize it once BEFORE the
    // fork, or two cold jobs each compute its blocks (double scan).
    TextAnalysisQueries.ensureWordsStage(s, dir)
    val lex = TextAnalysisQueries.bm25ScoredAll(s, dir)
    val vec = hybridCosAll(s, dir)
    def chan(full: DataFrame, score: String, ch: Int): DataFrame =
      full.select(lit(ch).as("ch"), col("doc_id").cast("long").as("d"),
        col(score).cast("double").as("sc"))
    // action 1: both channels' top-C in ONE job (union of two
    // TakeOrderedAndProject subtrees — their stages run concurrently)
    val tops = chan(lex, "bm25", 0)
      .orderBy(col("sc").desc, col("d")).limit(HybridC)
      .unionByName(chan(vec, "cos", 1)
        .orderBy(col("sc").desc, col("d")).limit(HybridC))
      .as[(Int, Long, Double)].collect()
    val lexScore0 = tops.collect { case (0, d, sc) => d -> sc }.toMap
    val vecScore0 = tops.collect { case (1, d, sc) => d -> sc }.toMap
    val cands: Seq[Long] = tops.map(_._2).distinct.toSeq
    val fused: Seq[(Long, Long, Long, Double)] = if (cands.isEmpty) Nil
    else {
      // action 2: the candidates' cross-channel scores, again one job
      val missLex = cands.filterNot(lexScore0.contains)
      val missVec = cands.filterNot(vecScore0.contains)
      def missDf(full: DataFrame, score: String, ch: Int, ids: Seq[Long]) =
        chan(full, score, ch).filter(col("d").isin(ids: _*))
      val missing: Array[(Int, Long, Double)] =
        if (missLex.isEmpty && missVec.isEmpty) Array.empty
        else missDf(lex, "bm25", 0, missLex)
          .unionByName(missDf(vec, "cos", 1, missVec))
          .as[(Int, Long, Double)].collect()
      val lexScore =
        lexScore0 ++ missing.collect { case (0, d, sc) => d -> sc }
      val vecScore =
        vecScore0 ++ missing.collect { case (1, d, sc) => d -> sc }
      // action 3: both channels' exact ranks in one job — each row maps
      // to its rank-bucket (codegen'd binary search against the ≤ 2C
      // sorted candidates, [[RankBucket]]), the ≤ 2C+1-group histograms
      // partial-aggregate map-side, and ranks are driver-side prefix
      // sums of the collected histogram
      val lexSorted = rankSorted(cands.map(d => d -> lexScore(d)))
      val vecSorted = rankSorted(cands.map(d => d -> vecScore(d)))
      val hist = lex
        .select(lit(0).as("hch"), bucketCol("bm25", lexSorted).as("b"))
        .unionByName(vec
          .select(lit(1).as("hch"), bucketCol("cos", vecSorted).as("b")))
        .groupBy(col("hch"), col("b")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2))
        .toMap
      val rLex = ranksFromHist(lexSorted, q => hist.getOrElse((0, q), 0L))
      val rVec = ranksFromHist(vecSorted, q => hist.getOrElse((1, q), 0L))
      cands.map { d =>
        (d, rLex(d), rVec(d),
          1.0 / (60.0 + rLex(d).toDouble) + 1.0 / (60.0 + rVec(d).toDouble))
      }
        .sortBy { case (d, _, _, rrf) => (-rrf, d) }.take(10)
    }
    fused.toDF("doc_id", "r_lex", "r_vec", "rrf")
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  private val v14Sql = {
    val w = graft.functions.TextSketch.duck.words("text")
    val docVec = hybridLexicon.map(t =>
      s"len(list_filter($w, x -> x = '$t'))::DOUBLE").mkString("[", ", ", "]")
    val qVec = hybridLexicon.map(t =>
      if (hybridQuery.contains(t)) "1.0" else "0.0").mkString("[", ", ", "]")
    s"""WITH lex AS (
       |  SELECT doc_id,
       |    ${duckCosine(docVec, qVec)} AS cos
       |  FROM documents),
       |vrank AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r_vec
       |  FROM lex),
       |bm AS (${TextAnalysisQueries.bm25ScoredSql}),
       |lrank AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
       |  FROM bm)
       |SELECT v.doc_id, l.r_lex::BIGINT AS r_lex, v.r_vec::BIGINT AS r_vec,
       |  1.0 / (60.0 + l.r_lex::DOUBLE) + 1.0 / (60.0 + v.r_vec::DOUBLE) AS rrf
       |FROM vrank v JOIN lrank l ON v.doc_id = l.doc_id
       |ORDER BY rrf DESC, v.doc_id LIMIT 10""".stripMargin
  }

  // V16 — PRODUCTION hybrid fusion (VERDICT r8 task #2): reciprocal-rank
  // fusion over BOUNDED top-C candidate lists instead of v14's
  // corpus-wide rank windows. Each side is a TakeOrderedAndProject scan
  // (per-partition top-C heap + driver merge — no shuffle, no global
  // sort, no window of any kind: PlanShapeSpec pins both candidate
  // plans window-free); the fusion itself runs over ≤ 2C collected rows
  // (the v12 k-bounded-driver-work precedent — at serving time these
  // are the two retriever responses being merged). Rank within a
  // candidate list equals the corpus-wide rank for every list member,
  // so with C ≥ corpus this equals v14 exactly (HybridFusionSpec); at
  // fixed C it is the standard "fuse the retrievers' top-C" contract
  // every production RRF implements. A doc absent from one side
  // contributes only its present-side term (sentinel rank -1 in the
  // output); both engines compute lex-term + vec-term in that order on
  // exact integer ranks, so the oracle hash-matches.
  private[graft] val HybridC = 100

  private[graft] def v16Fused(s: SparkSession, dir: String, c: Int)
      : DataFrame = {
    import s.implicits._
    // r16: the two candidate scans are independent — overlap them
    // (guide §2.6) instead of paying two full job latencies in series.
    // Their shared token stage materializes once before the fork.
    TextAnalysisQueries.ensureWordsStage(s, dir)
    val (lexIds, vecIds) = Overlap.par2(
      TextAnalysisQueries.bm25ScoredAll(s, dir)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(c).select(col("doc_id").cast("long")).as[Long].collect(),
      hybridCosAll(s, dir)
        .orderBy(col("cos").desc, col("doc_id"))
        .limit(c).select(col("doc_id").cast("long")).as[Long].collect())
    val rLex = lexIds.zipWithIndex.map { case (d, i) => d -> (i + 1L) }.toMap
    val rVec = vecIds.zipWithIndex.map { case (d, i) => d -> (i + 1L) }.toMap
    val fused = (lexIds ++ vecIds).distinct.toSeq.map { d =>
      val rl = rLex.getOrElse(d, -1L)
      val rv = rVec.getOrElse(d, -1L)
      val rrf = (if (rl > 0) 1.0 / (60.0 + rl.toDouble) else 0.0) +
        (if (rv > 0) 1.0 / (60.0 + rv.toDouble) else 0.0)
      (d, rl, rv, rrf)
    }.sortBy { case (d, _, _, rrf) => (-rrf, d) }.take(10)
    fused.toDF("doc_id", "r_lex", "r_vec", "rrf")
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  private val v16HybridTopk: Q = (s, dir) => v16Fused(s, dir, HybridC)

  private val v16Sql = {
    val w = graft.functions.TextSketch.duck.words("text")
    val docVec = hybridLexicon.map(t =>
      s"len(list_filter($w, x -> x = '$t'))::DOUBLE").mkString("[", ", ", "]")
    val qVec = hybridLexicon.map(t =>
      if (hybridQuery.contains(t)) "1.0" else "0.0").mkString("[", ", ", "]")
    s"""WITH bm AS (${TextAnalysisQueries.bm25ScoredSql}),
       |lexcand AS (
       |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
       |    AS BIGINT) AS r_lex
       |  FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT $HybridC)),
       |cosall AS (
       |  SELECT doc_id, ${duckCosine(docVec, qVec)} AS cos
       |  FROM documents),
       |veccand AS (
       |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id)
       |    AS BIGINT) AS r_vec
       |  FROM (SELECT * FROM cosall ORDER BY cos DESC, doc_id LIMIT $HybridC))
       |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
       |  COALESCE(l.r_lex, -1) AS r_lex, COALESCE(v.r_vec, -1) AS r_vec,
       |  (CASE WHEN l.r_lex IS NULL THEN 0.0
       |        ELSE 1.0 / (60.0 + l.r_lex::DOUBLE) END)
       |  + (CASE WHEN v.r_vec IS NULL THEN 0.0
       |          ELSE 1.0 / (60.0 + v.r_vec::DOUBLE) END) AS rrf
       |FROM lexcand l FULL JOIN veccand v ON l.doc_id = v.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
  }

  // V24 — GATED hybrid fusion (VERDICT r13 task 1): v16's bounded RRF
  // behind the [[graft.search.FusionGate]] lexical-confidence gate. The
  // gate's two inputs are replayable arithmetic: the query's confidence
  // (top-1 BM25 over the saturation ceiling (k1+1)·Σidf) and a
  // corpus-calibrated floor (p75 of the first-256-docs thinned
  // self-match distribution) persisted as a WRITE-TIME artifact keyed
  // by an exact integer corpus fingerprint — the g6-centroids
  // precedent: the oracle reads the same floor back via read_parquet
  // and independently replays confidence, gate decision, and weighted
  // fusion. Below the floor the lexical channel's weight is 0 and the
  // output degrades to the dense ranking (the reference's
  // fall-back-to-the-stronger-path behavior,
  // retrieval/pipeline.py:114-158); the quality consequence is pinned
  // in HardFusedRecallSpec (hard corpus: gated 26/45 vs neutral-fused
  // 17/45 at sf0.001).
  //
  // Scale shape: calibration is a bounded driver-side sample (256 docs'
  // token arrays — the g6 quantizer-sample precedent) plus ONE census
  // scan for the sample vocabulary's dfs (semi-joined map-side, shuffle
  // carries ≤ |sample vocab| rows); query time adds nothing over v16 —
  // the same two TakeOrderedAndProject candidate scans plus a 1-row
  // stats read.
  private[graft] val FusionFloorDir = "localdata/fusion-floor"

  /** Exact integer corpus fingerprint keying the floor artifact
    * partition — both engines compute n·1000000007 + Σdl in BIGINT. */
  private def fusionCorpusFp(n: Long, sumDl: Long): Long =
    n * 1000000007L + sumDl

  /** Calibrates the lexical-confidence floor for this corpus and
    * persists it as the write-time artifact; returns (corpus_fp, floor).
    * Session-cached (StageCache): the bounded sample + census scan run
    * once per session, not once per query invocation.
    */
  /** Staleness guard for the persisted fusion-floor table: corpus
    * footprint + every calibration constant. One derivation shared by
    * the reader below and [[WriteTimeTables.persistAll]]'s writer (the
    * acquireArtifact contract — drifting either alone would hand the
    * read-through pass a stale floor or a needless rebuild). */
  private[queries] def fusionFloorFingerprint(dir: String): String =
    StageCache.sourceFingerprint(Seq(s"$dir/documents.parquet"),
      s"fusion=calib${graft.search.FusionGate.CalibN}," +
        s"q${graft.search.FusionGate.FloorQuantile}," +
        s"thin${graft.search.FusionGate.ThinStride},ord=md5")

  private[graft] def fusionFloorCalib(s: SparkSession, dir: String)
      : (Long, Double) = {
    // getOrCache reads through to the write-time `fusion_floor` table
    // when `index-sketches` persisted it (r16, VERDICT r15 task 3): the
    // read-through bench then pays a 1-row parquet read, not a sample
    // collect + vocabulary census, per session.
    val row = StageCache.getOrCache(s, s"fusion_floor:$dir",
      Some(fusionFloorFingerprint(dir)))(
      fusionFloorBuild(s, dir)).head()
    (row.getLong(0), row.getDouble(1))
  }

  private[queries] def fusionFloorBuild(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    import graft.search.FusionGate
    val st = TextAnalysisQueries.bm25StatsRow(s, dir)
    val n = st.getAs[Long]("n")
    val sumDl = st.getAs[Long]("sum_dl")
    val avgdl = sumDl.toDouble / n.toDouble
    // bounded deterministic sample: CalibN docs in md5(doc_id) order —
    // NOT the first CalibN by raw id. In a real corpus id order
    // correlates with source/crawl/time, so an id-prefix sample
    // calibrates the floor on one slice of the corpus (the exact
    // failure class the routed soak's router sample hit: id order
    // aliased onto 8 of 256 clusters). md5 order is deterministic yet
    // uncorrelated with ingest order; floorOf is order-invariant so
    // only MEMBERSHIP changes.
    val sample: Seq[(Long, Seq[String])] =
      TextAnalysisQueries.wordsStage(s, dir)
        .orderBy(md5(col("doc_id").cast("string")))
        .limit(FusionGate.CalibN)
        .select(col("doc_id").cast("long"), col("w"))
        .as[(Long, Seq[String])].collect().toSeq
    // df census restricted to the sample's vocabulary: one corpus scan,
    // broadcast-semi-joined to the (bounded) vocab
    val vocab = sample.flatMap(_._2).distinct
    val vocabDf = vocab.toDF("t")
    val dfMap: Map[String, Long] = TextAnalysisQueries.wordsStage(s, dir)
      .select(explode(array_distinct(col("w"))).as("t"))
      .join(broadcast(vocabDf), Seq("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap
    val floor = FusionGate.floorOf(sample.map { case (_, toks) =>
      FusionGate.selfNorm(toks, t => dfMap.getOrElse(t, 0L), n, avgdl)
    })
    val fp = fusionCorpusFp(n, sumDl)
    val art = Seq((fp, floor)).toDF("corpus_fp", "floor")
    val overwriteKey = "spark.sql.sources.partitionOverwriteMode"
    val prev = s.conf.getOption(overwriteKey)
    s.conf.set(overwriteKey, "dynamic")
    try art.write.mode("overwrite").partitionBy("corpus_fp")
      .parquet(FusionFloorDir)
    finally prev match {
      case Some(v) => s.conf.set(overwriteKey, v)
      case None => s.conf.unset(overwriteKey)
    }
    Seq((fp, floor)).toDF("corpus_fp", "floor")
  }

  /** The gated fused rows (shared with the spec): doc_id, r_lex, r_vec,
    * conf, floor, w_lex, score — top 10 by score. */
  private[graft] def v24Fused(s: SparkSession, dir: String, c: Int)
      : DataFrame = {
    import s.implicits._
    import graft.search.FusionGate
    // r16 (VERDICT r15 task 3): the floor calibration and the two
    // candidate scans are independent legs — run them concurrently
    // (guide §2.6) instead of paying four sequential job latencies.
    // The shared 1-row corpus stats and the token stage materialize
    // FIRST so the legs read session-cached state instead of racing to
    // build it (a cold race would double-scan the corpus).
    TextAnalysisQueries.ensureWordsStage(s, dir)
    val st = TextAnalysisQueries.bm25StatsRow(s, dir)
    val n = st.getAs[Long]("n")
    // confidence: idf folded in the fixed query-term order, df=0 → 0
    val idfSum = TextAnalysisQueries.bm25QueryTerms.map { t =>
      val df = st.getAs[Long](s"df_$t")
      if (df > 0) FusionGate.idf(df, n) else 0.0
    }.sum
    val (floorPair, lexScored, vecIds) = Overlap.par3(
      fusionFloorCalib(s, dir),
      TextAnalysisQueries.bm25ScoredAll(s, dir)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(c).select(col("doc_id").cast("long"), col("bm25"))
        .as[(Long, Double)].collect(),
      hybridCosAll(s, dir)
        .orderBy(col("cos").desc, col("doc_id"))
        .limit(c).select(col("doc_id").cast("long")).as[Long].collect())
    val floor = floorPair._2
    val conf = FusionGate.confidence(
      lexScored.headOption.map(_._2).getOrElse(0.0), idfSum)
    val wLex = FusionGate.lexWeight(conf, floor)
    val fused = FusionGate.fuse(lexScored.map(_._1).toSeq, vecIds.toSeq,
      wLex).take(10)
    fused.map { case (d, rl, rv, sc) => (d, rl, rv, conf, floor, wLex, sc) }
      .toDF("doc_id", "r_lex", "r_vec", "conf", "floor", "w_lex", "score")
      .orderBy(col("score").desc, col("doc_id"))
  }

  private val v24GatedFusion: Q = (s, dir) => v24Fused(s, dir, HybridC)

  private val v24Sql = {
    import graft.search.FusionGate
    val terms = TextAnalysisQueries.bm25QueryTerms
    // the saturation-ceiling constant, printed from the exact double the
    // Spark side computes (Double.toString round-trips bit-exactly)
    val cc = (FusionGate.K1 + 1).toString
    val idfSumSql = terms.map(t =>
      s"(CASE WHEN st.df_$t > 0 THEN ln((st.n::DOUBLE - st.df_$t::DOUBLE " +
        s"+ 0.5) / (st.df_$t::DOUBLE + 0.5) + 1.0) ELSE 0.0 END)")
      .mkString("\n       |      + ")
    val docVec = hybridLexicon.map(t =>
      s"len(list_filter(${graft.functions.TextSketch.duck.words("text")}, " +
        s"x -> x = '$t'))::DOUBLE").mkString("[", ", ", "]")
    val qVec = hybridLexicon.map(t =>
      if (hybridQuery.contains(t)) "1.0" else "0.0").mkString("[", ", ", "]")
    s"""WITH bm AS (${TextAnalysisQueries.bm25ScoredSql}),
       |st AS (${TextAnalysisQueries.bm25StatsSql}),
       |fl AS (
       |  SELECT f.floor
       |  FROM read_parquet(
       |    '${new java.io.File(FusionFloorDir).getAbsolutePath}/*/*.parquet',
       |    hive_partitioning=1) f, st
       |  WHERE CAST(f.corpus_fp AS BIGINT) =
       |    st.n * 1000000007 + st.sum_dl),
       |g AS (
       |  SELECT conf, fl.floor,
       |    CASE WHEN conf >= fl.floor THEN 1.0::DOUBLE
       |         ELSE 0.0::DOUBLE END AS w_lex
       |  FROM (SELECT CASE WHEN ($idfSumSql) > 0
       |    THEN (SELECT MAX(bm25) FROM bm) / ($cc * (
       |      $idfSumSql))
       |    ELSE 0.0 END AS conf FROM st), fl),
       |lexcand AS (
       |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
       |    AS BIGINT) AS r_lex
       |  FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT $HybridC)),
       |cosall AS (
       |  SELECT doc_id, ${duckCosine(docVec, qVec)} AS cos
       |  FROM documents),
       |veccand AS (
       |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id)
       |    AS BIGINT) AS r_vec
       |  FROM (SELECT * FROM cosall ORDER BY cos DESC, doc_id LIMIT $HybridC))
       |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
       |  COALESCE(l.r_lex, -1) AS r_lex, COALESCE(v.r_vec, -1) AS r_vec,
       |  g.conf AS conf, g.floor AS floor, g.w_lex AS w_lex,
       |  (CASE WHEN l.r_lex IS NULL THEN 0.0
       |        ELSE g.w_lex / (60.0 + l.r_lex::DOUBLE) END)
       |  + (CASE WHEN v.r_vec IS NULL THEN 0.0
       |          ELSE 1.0 / (60.0 + v.r_vec::DOUBLE) END) AS score
       |FROM lexcand l FULL JOIN veccand v ON l.doc_id = v.doc_id, g
       |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
  }

  /** v16's two corpus-sized candidate plans, exposed so PlanShapeSpec can
    * assert their shape (TakeOrderedAndProject, NO window node of any
    * kind); the fused output plan is a driver-local table by construction
    * and proves nothing about these stages.
    */
  private[graft] def hybridCandidateStages(s: SparkSession, dir: String,
      c: Int = HybridC): (DataFrame, DataFrame) = (
    TextAnalysisQueries.bm25ScoredAll(s, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(c),
    hybridCosAll(s, dir)
      .orderBy(col("cos").desc, col("doc_id")).limit(c))

  // ---- v17: retrieval-quality metrics (MRR / NDCG@10) ----
  // Ground truth: same-label vectors are relevant (the testdata's 10
  // balanced classes). The reference tallies golden-query hits (A9,
  // api/cli/quality.py:68-100); this is the graded generalization a
  // retrieval pipeline actually monitors. Oracle-exactness design: the
  // 1/log2(1+r) and 1/r weights are DRIVER-COMPUTED integer micro-unit
  // constants injected into BOTH the Spark plan and the SQL text, so
  // every per-query aggregate is an order-free exact integer sum; the
  // only float op is one final division of identical BIGINT operands.
  // Scale shape = v2's: broadcast the query set, one corpus scan, a
  // per-query rank window, then 20-row arithmetic.

  private val NdcgW: Seq[Long] =
    (1 to 10).map(r => Math.round(1e6 / (Math.log(r + 1.0) / Math.log(2.0))))
  private val NdcgPrefix: Seq[Long] = NdcgW.scanLeft(0L)(_ + _).tail
  private val RrW: Seq[Long] = (1 to 10).map(r => Math.round(1e6 / r.toDouble))

  private val v17Metrics: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
        col("label").as("query_label"))
    val relCounts = e.groupBy(col("label").as("query_label"))
      .agg(count(lit(1)).as("class_n"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("similarity", cosine(col("embedding"), col("query_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("similarity").desc, col("vec_id"))
    val wArr = array(NdcgW.map(lit): _*)
    val rrArr = array(RrW.map(lit): _*)
    val pArr = array(NdcgPrefix.map(lit): _*)
    val top = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .withColumn("rel", (col("label") === col("query_label")).cast("int"))
    val perQ = top.groupBy(col("query_id"), col("query_label"))
      .agg(
        sum(col("rel")).cast("long").as("hits10"),
        coalesce(min(when(col("rel") === 1, col("rank"))), lit(0))
          .cast("long").as("first_hit_rank"),
        sum(when(col("rel") === 1, element_at(wArr, col("rank")))
          .otherwise(0L)).cast("long").as("dcg_micro"))
    perQ.join(broadcast(relCounts), Seq("query_label"))
      .withColumn("n_rel", (col("class_n") - 1).cast("long"))
      .withColumn("rr_micro", when(col("first_hit_rank") > 0,
        element_at(rrArr, col("first_hit_rank").cast("int")))
        .otherwise(0L).cast("long"))
      .withColumn("idcg_micro", element_at(pArr,
        greatest(least(col("n_rel"), lit(10L)), lit(1L)).cast("int"))
        .cast("long"))
      .withColumn("ndcg", when(col("n_rel") > 0,
        col("dcg_micro").cast("double") / col("idcg_micro").cast("double"))
        .otherwise(lit(0.0)))
      .select(col("query_id"), col("query_label").as("label"), col("n_rel"),
        col("hits10"), col("first_hit_rank"), col("rr_micro"),
        col("dcg_micro"), col("idcg_micro"), col("ndcg"))
      .orderBy(col("query_id"))
  }

  private val v17Sql = {
    def caseOf(src: String, vals: Seq[Long]): String =
      s"CASE $src " + vals.zipWithIndex
        .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }
        .mkString(" ") + " ELSE 0 END"
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS query_vec,
       |    label AS query_label FROM embeddings WHERE vec_id < 20),
       |  cls AS (SELECT label AS query_label, COUNT(*) AS class_n
       |    FROM embeddings GROUP BY 1),
       |  top AS (SELECT * FROM (
       |    SELECT q.query_id, q.query_label, e.label,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${duckCosine("e.embedding", "q.query_vec")} DESC,
       |          e.vec_id) AS rank
       |    FROM embeddings e, q WHERE e.vec_id <> q.query_id) t
       |    WHERE rank <= 10),
       |  perq AS (SELECT query_id, query_label,
       |    CAST(SUM(CASE WHEN label = query_label THEN 1 ELSE 0 END)
       |      AS BIGINT) AS hits10,
       |    CAST(COALESCE(MIN(CASE WHEN label = query_label THEN rank END), 0)
       |      AS BIGINT) AS first_hit_rank,
       |    CAST(SUM(CASE WHEN label = query_label THEN
       |      ${caseOf("rank", NdcgW)} ELSE 0 END) AS BIGINT) AS dcg_micro
       |    FROM top GROUP BY 1, 2),
       |  fin AS (SELECT p.query_id, p.query_label AS label,
       |    CAST(c.class_n - 1 AS BIGINT) AS n_rel, p.hits10,
       |    p.first_hit_rank,
       |    CAST(${caseOf("p.first_hit_rank", RrW)} AS BIGINT) AS rr_micro,
       |    p.dcg_micro,
       |    CAST(${caseOf("LEAST(GREATEST(c.class_n - 1, 1), 10)", NdcgPrefix)}
       |      AS BIGINT) AS idcg_micro
       |    FROM perq p JOIN cls c USING (query_label))
       |SELECT query_id, label, n_rel, hits10, first_hit_rank, rr_micro,
       |  dcg_micro, idcg_micro,
       |  CASE WHEN n_rel > 0
       |    THEN CAST(dcg_micro AS DOUBLE) / CAST(idcg_micro AS DOUBLE)
       |    ELSE 0.0 END AS ndcg
       |FROM fin ORDER BY query_id""".stripMargin
  }

  // v18 — the HNSW SQL rewrite end-to-end: persist a graph index over
  // the embeddings, turn the [[org.apache.spark.sql.graft
  // .HnswIndexRewrite]] configs on, and run the reference's serving
  // query shape VERBATIM (`WHERE … ORDER BY cosine DESC LIMIT k`,
  // retrieval/search.py:89-124) — the planner substitutes the filtered
  // beam-search walk, pgvector's index-scan substitution for its actual
  // index class (storage/schema.py:78-84). With ef ≥ every shard size
  // the walk is exact (the family's exactness witness), so the returned
  // ranks hash-match the DuckDB exact filtered KNN; `used_index_walk`
  // is read off the executed plan, so a rewrite that silently failed to
  // fire turns the row false and the oracle catches it. Similarity
  // values stay OUT of the output: the walk ranks by dot of
  // unit-normalized floats, bit-different from the raw cosine (ranks
  // agree — the top-k boundary gap is ~1e-4, 1000x the normalization
  // rounding), which is also why ties inherit the id tie-break on both
  // sides. Eagerly materialized: the session configs and the temp index
  // must not outlive this call and hijack later cosine top-k plans.
  /** The v18 index derivation constants, ALL folded into the artifact
    * fingerprint: shards, the saveIndex build parameters (m=16,
    * efConstruction=200 defaults spelled out), and the id projection.
    * Changing any of them invalidates a persisted index — the
    * sourceFingerprint contract. */
  private[graft] def v18IndexFingerprint(dir: String): String =
    StageCache.sourceFingerprint(Seq(s"$dir/embeddings.parquet"),
      // vh2: the adjacency stamps vec_hash (raw-vector FNV witness)
      "v18|shards=2|m=16|efc=200|id=f%06d|vh2")

  /** Build the v18 serving artifact (staged embeddings + HNSW index)
    * under `base` — the ONE builder shared by the catalog query and
    * [[WriteTimeTables.persistAll]], so the two cannot drift on build
    * constants and hand the timed read-through pass a silent rebuild. */
  private[graft] def buildV18Index(s: SparkSession, dir: String,
      base: String): Unit = {
    Tables.embeddings(s, dir)
      .select(format_string("f%06d", col("vec_id")).as("fragment_id"),
        col("embedding").as("vector"), col("label"))
      .write.mode("overwrite").parquet(s"$base/emb")
    graft.search.Hnsw.saveIndex(s.read.parquet(s"$base/emb"),
      s"$base/idx", numShards = 2)
  }

  /** A TEMP-dir artifact held in a [[StageCache]] slot: closing it (on a
    * fingerprint change, [[StageCache.release]] or context end) deletes
    * the directory. */
  private final case class TempArtifact(dir: String) extends AutoCloseable {
    def close(): Unit = graft.ingest.TableSwap.rmTreeAt(dir)
  }

  /** Acquire a serving artifact (a DIRECTORY of index state, not one
    * parquet table): write-time under the stage-cache root when
    * configured (the production shape — the read-through bench measures
    * the walk/probe only), else a session-memoized temp build. One
    * bench run times the catalog N times and serves v18/v19 (HNSW) and
    * v20 (IVF) from the same indexes — without the memo every timed
    * serving query paid a full stage+build (~2 s) that the read-through
    * number then subtracted back out (ADVICE r10). Returns its base dir;
    * callers must NOT delete it (the cache/memo owns cleanup). */
  private def acquireArtifact(s: SparkSession, name: String, fp: String)(
      build: String => Unit): String = {
    s.conf.getOption(StageCache.PathConf)
      .map(r => new java.io.File(r, name)) match {
      case Some(d) =>
        if (!StageCache.artifactFresh(d, fp)) {
          // parity with persistedTable: stale state is REBUILT with a
          // log line, never silently — a bench/CLI reader must be able
          // to see why this run paid the build
          if (new java.io.File(d, "_SUCCESS").isFile)
            // scalastyle:off println
            println(s"[StageCache] persisted artifact '$name' is " +
              "STALE (source fingerprint changed) — rebuilding")
            // scalastyle:on println
          graft.ingest.TableSwap.rmTreeAt(d.toString)
          try {
            build(d.toString)
            StageCache.commitArtifact(d, fp)
          } catch {
            case e: Throwable =>
              graft.ingest.TableSwap.rmTreeAt(d.toString); throw e
          }
        }
        d.toString
      case None => StageCache.memo(s, s"tmp_artifact:$name", fp) {
        val t = java.nio.file.Files.createTempDirectory(name).toString
        // Throwable, not Exception: an OOM out of an index build must
        // not leak a temp copy of the embeddings table
        try build(t)
        catch {
          case e: Throwable =>
            graft.ingest.TableSwap.rmTreeAt(t); throw e
        }
        TempArtifact(t)
      }.dir
    }
  }

  /** The v18/v19 HNSW serving artifact (staged embeddings + index). */
  private def acquireHnswArtifact(s: SparkSession, dir: String): String =
    acquireArtifact(s, "v18_hnsw", v18IndexFingerprint(dir))(
      buildV18Index(s, dir, _))

  /** The vec_id 0 query embedding as a SQL float-array literal —
    * Float.toString round-trips exactly through the DOUBLE parse +
    * float CAST, so the text reproduces the stored vector bit-for-bit.
    * One copy shared by every SQL serving query (v18/v19/v20). r16:
    * memoized under the source-file fingerprint — every serving leg
    * needed the literal and each head() was a full driver job; the
    * v18–v25 family pays it once per corpus now. */
  private def queryVecLiteral(s: SparkSession, dir: String): String =
    StageCache.memo(s, s"qvec:$dir", StageCache.sourceFingerprint(
        Seq(s"$dir/embeddings.parquet"), "qvec")) {
      Tables.embeddings(s, dir).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
        .map(_.toString)
        .mkString("CAST(array(", ", ", ") AS array<float>)")
    }

  /** Row count of a staged artifact table — the exactness-witness ef
    * (r16: a property of the artifact's files, memoized under their
    * stat fingerprint instead of re-running the count job per serve). */
  private def stagedCount(staged: DataFrame, path: String): Long =
    StageCache.memo(staged.sparkSession, s"staged_count:$path",
      StageCache.sourceFingerprint(Seq(path), "n"))(staged.count())

  /** The (rank, fragment_id, <witness>) output shape shared by the SQL
    * serving queries: ranked hits plus the plan-read witness bit under
    * the caller's column name. */
  private def rankedWitness(s: SparkSession, hits: Seq[String],
      witnessCol: String, witness: Boolean)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    hits.zipWithIndex
      .map { case (f, i) => ((i + 1).toLong, f, witness) }
      .toDF("rank", "fragment_id", witnessCol)
  }

  /** The shared v18/v19 serving scaffold: acquire the artifact, turn
    * the rewrite configs on for exactly the one statement, run the
    * caller's SQL text, and return (rank, fragment_id, used_index_walk)
    * with the walk bit read off the EXECUTED plan — a rewrite that
    * silently failed to fire turns the row false and the oracle
    * catches it. */
  private def serveHnswSql(s: SparkSession, dir: String)(
      sqlText: (String, String) => String): org.apache.spark.sql.DataFrame =
    serveHnswSqlAt(s, acquireHnswArtifact(s, dir), dir, ef = None)(sqlText)

  /** Run one HNSW serving statement against an artifact dir (staged
    * table at `base/emb`, adjacency at `base/idx`) and return the
    * ranked hits with the plan-read walk witness. `ef = None` is the
    * exactness witness (ef = staged row count ≥ every shard size);
    * `Some(e)` is a production operating point (v22). Factored out of
    * the v18/v19 scaffold so the MAINTAINED artifact (v21) serves
    * through the identical code path. */
  private def serveHnswSqlAt(s: SparkSession, base: String, dir: String,
      ef: Option[Int])(
      sqlText: (String, String) => String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graft.HnswIndexRewrite
    val staged = s.read.parquet(s"$base/emb")
    val efVal = ef.getOrElse(stagedCount(staged, s"$base/emb").toInt)
    val qLit = queryVecLiteral(s, dir)
    val view = s"v18_emb_${java.util.UUID.randomUUID().toString.take(8)}"
    s.conf.set(HnswIndexRewrite.IndexKey, s"$base/idx")
    s.conf.set(HnswIndexRewrite.EfKey, efVal.toString)
    try {
      staged.createOrReplaceTempView(view)
      val df = s.sql(sqlText(view, qLit))
      val walked = df.queryExecution.executedPlan.toString
        .contains("MapGroups")
      val hits = df.select(col("fragment_id")).collect()
        .map(_.getString(0))
      rankedWitness(s, hits.toSeq, "used_index_walk", walked)
    } finally {
      s.conf.unset(HnswIndexRewrite.IndexKey)
      s.conf.unset(HnswIndexRewrite.EfKey)
      s.catalog.dropTempView(view)
    }
  }

  private val v18HnswSqlKnn: Q = (s, dir) =>
    serveHnswSql(s, dir) { (view, qLit) =>
      s"""SELECT fragment_id, vector_cosine(vector, $qLit) AS sim
         |FROM $view WHERE label < 5
         |ORDER BY sim DESC, fragment_id LIMIT 10""".stripMargin
    }

  // v19 — the reference's serving SQL VERBATIM in its DISTANCE form:
  // pgvector's actual text is `1 - (embedding <=> $q) AS similarity …
  // ORDER BY embedding <=> $q` (retrieval/search.py:106-112) — distance
  // ASC, with the ordering key NOT in the SELECT list. A user porting
  // that query writes `vector_cosine_distance(…) ASC` (the named `<=>`)
  // and must get the same index walk v18's cosine-DESC spelling gets;
  // before r11 this shape silently fell back to the exact scan.
  // Everything else — artifact, ef witness, plan-read walk bit, oracle
  // ranks — is shared with v18 by construction (same scaffold).
  private val v19HnswSqlDistance: Q = (s, dir) =>
    serveHnswSql(s, dir) { (view, qLit) =>
      s"""SELECT fragment_id,
         |  1 - vector_cosine_distance(vector, $qLit) AS similarity
         |FROM $view WHERE label < 5
         |ORDER BY vector_cosine_distance(vector, $qLit) ASC, fragment_id
         |LIMIT 10""".stripMargin
    }

  // v20 — the IVF SQL serving path end-to-end, completing the story v18/
  // v19 tell for HNSW: BOTH index families the reference could serve
  // from (pgvector ships ivfflat AND hnsw index classes; the reference
  // declares hnsw, storage/schema.py:78-84, but the serving SQL is
  // identical) answer the verbatim distance text through their own
  // Catalyst rule. [[org.apache.spark.sql.graft.AnnProbeRewrite]]
  // narrows the scan of a write-time IVF index table to the probed
  // lists — partition pruning at the parquet source, pgvector's
  // `ivfflat.probes`. nprobe = the full list count is the family's
  // exactness witness (every list probed ⇒ the exact top-k re-ranks),
  // so the returned ranks hash-match the DuckDB exact filtered KNN
  // while `used_probe_prune` — the list_id partition filter read off
  // the EXECUTED plan — proves the rule fired rather than the query
  // having degenerated to the exact scan.
  /** ONE copy of the v20 trainer constants: the builder's k, the
    * serving nprobe (= k is the full-probe exactness witness — drifting
    * either alone would silently turn the oracled query approximate),
    * the trainer iterations, and the fingerprint string all read these.
    */
  private val V20IvfK = 16
  private val V20TrainIters = 10
  private val V20SampleN = 1024

  /** The v20 index derivation constants, ALL folded into the artifact
    * fingerprint (the v18 contract): the trainer's k, iteration count
    * and sample bound, and the id projection. */
  private[graft] def v20IndexFingerprint(dir: String): String =
    StageCache.sourceFingerprint(Seq(s"$dir/embeddings.parquet"),
      s"v20|ivfk=$V20IvfK|iters=$V20TrainIters|sample=$V20SampleN" +
        "|id=f%06d")

  /** Build the v20 serving artifact (quantizer sidecar + partitioned
    * IVF index table) under `base` — shared by the catalog query and
    * [[WriteTimeTables.persistAll]] so the two cannot drift on build
    * constants. Training is the v15/v6 discipline: a deterministic
    * 1024-row ordered sample, never the corpus. */
  private[graft] def buildV20Index(s: SparkSession, dir: String,
      base: String): Unit = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(format_string("f%06d", col("vec_id")).as("fragment_id"),
        col("embedding").as("vector"), col("label"))
    val sample = Tables.embeddings(s, dir).orderBy(col("vec_id"))
      .limit(V20SampleN)
      .select(col("embedding")).as[Seq[Float]].collect().map(_.toArray)
    val quant = graft.search.Ivf.train(sample, V20IvfK,
      iters = V20TrainIters)
    graft.sources.TableLayout.writePartitionedSorted(
      graft.search.Ivf.buildIndex(e, quant), s"$base/idx", "list_id",
      Seq("fragment_id"))
    graft.search.Ivf.save(quant, s"$base/quantizer.txt")
  }

  private val v20IvfSqlDistance: Q = (s, dir) => {
    import org.apache.spark.sql.graft.AnnProbeRewrite
    val base = acquireArtifact(s, "v20_ivf", v20IndexFingerprint(dir))(
      buildV20Index(s, dir, _))
    val qLit = queryVecLiteral(s, dir)
    s.conf.set(AnnProbeRewrite.QuantizerKey, s"$base/quantizer.txt")
    // nprobe = the trainer's k: full probe, the exactness witness
    s.conf.set(AnnProbeRewrite.NprobeKey, V20IvfK.toString)
    try {
      s.read.parquet(s"$base/idx").createOrReplaceTempView("v20_idx")
      val df = s.sql(
        s"""SELECT fragment_id,
           |  1 - vector_cosine_distance(vector, $qLit) AS similarity
           |FROM v20_idx WHERE label < 5
           |ORDER BY vector_cosine_distance(vector, $qLit) ASC, fragment_id
           |LIMIT 10""".stripMargin)
      val pruned = df.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("PartitionFilters"))
        .exists(_.contains("list_id"))
      val hits = df.select(col("fragment_id")).collect()
        .map(_.getString(0))
      rankedWitness(s, hits.toSeq, "used_probe_prune", pruned)
    } finally {
      s.conf.unset(AnnProbeRewrite.QuantizerKey)
      s.conf.unset(AnnProbeRewrite.NprobeKey)
      s.catalog.dropTempView("v20_idx")
    }
  }

  // v21 — the MAINTAINED-index serving loop end-to-end (VERDICT r11
  // task 3): v18/v19/v20 prove build→serve; real corpora re-ingest.
  // The reference's update path deletes a document's rows and re-adds
  // the re-embedded fragments against the SAME pgvector index
  // (storage/cascade.py:64-160 + storage/schema.py:78-84 — Postgres
  // maintains the hnsw index through DML); our equivalent is
  // [[graft.search.HnswMaintenance.updateIndex]]. This entry builds the
  // index over a PRE-DELTA corpus, applies one delta batch exercising
  // all three mutation kinds — INSERT (vec_id%10==3, absent from the
  // base build), REPLACE (vec_id%10==7 upserted with its reversed
  // vector: new content, zero new arithmetic on either engine), DELETE
  // (vec_id%10==5) — and then serves the v19 verbatim distance-ASC SQL
  // from the maintained artifact, with the walk witness read off the
  // executed plan and the vec_hash binding guard engaged (maintenance
  // stamps/carries per-node hashes; a drifted node would raise, not
  // mis-rank). The DuckDB oracle recomputes the exact post-update KNN
  // from the same delta rules, so a maintenance bug that loses, leaks
  // or half-replaces a node changes the ranks and fails the hash.
  private[graft] def v21IndexFingerprint(dir: String): String =
    StageCache.sourceFingerprint(Seq(s"$dir/embeddings.parquet"),
      "v21|shards=2|m=16|efc=200|id=f%06d|delta=ins3.rep7rev.del5|vh2")

  /** Build the v21 maintained artifact: base index over the pre-delta
    * corpus, one [[graft.search.HnswMaintenance.updateIndex]] delta
    * (insert+replace+delete), and the post-update staged table the SQL
    * serves values from. Shared with [[WriteTimeTables.persistAll]]
    * (the v18 contract). */
  private[graft] def buildV21Index(s: SparkSession, dir: String,
      base: String): Unit = {
    import s.implicits._
    val all = Tables.embeddings(s, dir)
      .select(format_string("f%06d", col("vec_id")).as("fragment_id"),
        col("embedding").as("vector"), col("label"), col("vec_id"))
    // pre-delta corpus: the ids the delta INSERTS must be absent
    HnswMaintenance.writeIndex(
      all.filter(col("vec_id") % 10 =!= 3)
        .select("fragment_id", "vector"),
      s"$base/idx", numShards = 2)
    // one upsert batch: new ids insert, existing ids replace (reversed
    // vector — content change with no float arithmetic to mirror)
    val incoming = all.filter(col("vec_id") % 10 === 3)
      .select(col("fragment_id"), col("vector"))
      .unionByName(all.filter(col("vec_id") % 10 === 7)
        .select(col("fragment_id"), reverse(col("vector")).as("vector")))
    val dropIds = all.filter(col("vec_id") % 10 === 5)
      .select(col("fragment_id")).as[String].collect().toSeq
    val stats = HnswMaintenance.updateIndex(s, s"$base/idx", incoming,
      dropIds)
    require(stats.rebuiltShards.nonEmpty && stats.incomingRows > 0,
      s"v21 delta must exercise the rebuild path: $stats")
    // the post-update corpus (what the index now ranks over)
    all.filter(col("vec_id") % 10 =!= 5)
      .select(col("fragment_id"),
        when(col("vec_id") % 10 === 7, reverse(col("vector")))
          .otherwise(col("vector")).as("vector"),
        col("label"))
      .write.mode("overwrite").parquet(s"$base/emb")
  }

  // v25 — the ROUTED maintained serving loop end-to-end (VERDICT r14
  // task 2): the cluster-routed layout (frozen k-means router, ×3
  // replication, size-bounded sub-shards) built over the PRE-delta
  // corpus, one [[graft.search.HnswMaintenance.updateIndex]] delta
  // (the router sidecar selects the routed placement) exercising all
  // three mutation kinds (INSERT %10==3, REPLACE %10==7 with its
  // reversed vector — which ROUTES TO DIFFERENT CELLS,
  // the move case hash sharding never has, DELETE %10==5), then the
  // v19 verbatim distance-ASC SQL served through [[HnswIndexRewrite]],
  // which recognizes the router sidecar and prunes the walk to the
  // query's R=6 of 8 cells instead of the all-shard fan-out. Witnesses:
  // the fired graph walk (MapGroups) AND shard_id in PartitionFilters —
  // the wave-bound fan-out is provably gone from the serving path. The
  // DuckDB oracle recomputes the exact post-update KNN from the same
  // delta rules; at ef = n per sub-graph its green hash additionally
  // witnesses that R=6 routing is LOSSLESS on this corpus/query (the
  // recall-floor contract at production knobs is v22's/RoutedHnswSpec's
  // job — this pin is strictly stronger on this fixed input).
  private[graft] def v25IndexFingerprint(dir: String): String =
    StageCache.sourceFingerprint(Seq(s"$dir/embeddings.parquet"),
      "v25routed|S=8,rep=3,m=16,efc=200|id=f%06d|" +
        "delta=ins3.rep7rev.del5|sample=md5x1024")

  /** Build the v25 routed maintained artifact: routed base index over
    * the pre-delta corpus (router trained on an md5-ordered sample and
    * FROZEN), one routed maintenance delta, and the post-update staged
    * table the SQL serves values from. Shared with
    * [[WriteTimeTables.persistAll]]. */
  private[graft] def buildV25RoutedIndex(s: SparkSession, dir: String,
      base: String): Unit = {
    import s.implicits._
    val all = Tables.embeddings(s, dir)
      .select(format_string("f%06d", col("vec_id")).as("fragment_id"),
        col("embedding").as("vector"), col("label"), col("vec_id"))
    val pre = all.filter(col("vec_id") % 10 =!= 3)
      .select("fragment_id", "vector")
    // router sample in md5(id) order — id order aliases onto the
    // trainer's evenly-spaced init (the 7bd77a5 lesson)
    val sample = pre.orderBy(md5(col("fragment_id"))).limit(1024)
      .select(col("vector")).as[Seq[Float]].collect().map(_.toArray)
    val router = graft.search.Ivf.train(sample, 8, iters = 5)
    HnswMaintenance.writeIndexRouted(pre, s"$base/idx", router,
      replicas = 3)
    val incoming = all.filter(col("vec_id") % 10 === 3)
      .select(col("fragment_id"), col("vector"))
      .unionByName(all.filter(col("vec_id") % 10 === 7)
        .select(col("fragment_id"), reverse(col("vector")).as("vector")))
    val dropIds = all.filter(col("vec_id") % 10 === 5)
      .select(col("fragment_id")).as[String].collect().toSeq
    val stats = HnswMaintenance.updateIndex(s, s"$base/idx", incoming,
      dropIds)
    require(stats.rebuiltShards.nonEmpty && stats.incomingRows > 0,
      s"v25 delta must exercise the rebuild path: $stats")
    all.filter(col("vec_id") % 10 =!= 5)
      .select(col("fragment_id"),
        when(col("vec_id") % 10 === 7, reverse(col("vector")))
          .otherwise(col("vector")).as("vector"),
        col("label"))
      .write.mode("overwrite").parquet(s"$base/emb")
  }

  private val v25RoutedMaintainedServe: Q = (s, dir) => {
    import org.apache.spark.sql.graft.HnswIndexRewrite
    val base = acquireArtifact(s, "v25_hnsw_routed_maint",
      v25IndexFingerprint(dir))(buildV25RoutedIndex(s, dir, _))
    val staged = s.read.parquet(s"$base/emb")
    val efVal = stagedCount(staged, s"$base/emb").toInt
    val qLit = queryVecLiteral(s, dir)
    val view = s"v25_emb_${java.util.UUID.randomUUID().toString.take(8)}"
    s.conf.set(HnswIndexRewrite.IndexKey, s"$base/idx")
    s.conf.set(HnswIndexRewrite.EfKey, efVal.toString)
    s.conf.set(HnswIndexRewrite.ProbeCellsKey, "6")
    try {
      staged.createOrReplaceTempView(view)
      val df = s.sql(
        s"""SELECT fragment_id,
           |  1 - vector_cosine_distance(vector, $qLit) AS similarity
           |FROM $view WHERE label < 5
           |ORDER BY vector_cosine_distance(vector, $qLit) ASC, fragment_id
           |LIMIT 10""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      val walked = plan.contains("MapGroups")
      val prunedRouted = plan.linesIterator
        .filter(_.contains("PartitionFilters"))
        .exists(_.contains("shard_id"))
      val hits = df.select(col("fragment_id")).collect()
        .map(_.getString(0))
      import s.implicits._
      hits.zipWithIndex.toSeq
        .map { case (f, i) => ((i + 1).toLong, f, walked, prunedRouted) }
        .toDF("rank", "fragment_id", "used_index_walk", "routed_pruned")
    } finally {
      s.conf.unset(HnswIndexRewrite.IndexKey)
      s.conf.unset(HnswIndexRewrite.EfKey)
      s.conf.unset(HnswIndexRewrite.ProbeCellsKey)
      s.catalog.dropTempView(view)
    }
  }

  private val v25Sql = {
    val sim = duckCosine("f.v", "q.qv")
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |f AS (SELECT printf('f%06d', vec_id) AS fragment_id,
       |        CASE WHEN vec_id % 10 = 7 THEN list_reverse(embedding)
       |             ELSE embedding END AS v,
       |        label
       |      FROM embeddings WHERE vec_id % 10 <> 5),
       |s AS (SELECT fragment_id, $sim AS sim FROM f, q WHERE f.label < 5)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, fragment_id)
       |    AS BIGINT) AS rank,
       |  fragment_id, true AS used_index_walk, true AS routed_pruned
       |FROM s ORDER BY sim DESC, fragment_id LIMIT 10""".stripMargin
  }

  private val v21HnswMaintainedServe: Q = (s, dir) => {
    val base = acquireArtifact(s, "v21_hnsw_maint",
      v21IndexFingerprint(dir))(buildV21Index(s, dir, _))
    serveHnswSqlAt(s, base, dir, ef = None) { (view, qLit) =>
      s"""SELECT fragment_id,
         |  1 - vector_cosine_distance(vector, $qLit) AS similarity
         |FROM $view WHERE label < 5
         |ORDER BY vector_cosine_distance(vector, $qLit) ASC, fragment_id
         |LIMIT 10""".stripMargin
    }
  }

  // v22 — the APPROXIMATE serving operating point (VERDICT r11 task 4):
  // v18–v21 all serve at exactness witnesses (ef ≥ n, nprobe = every
  // list) because a hash oracle needs exact ranks. Production serves at
  // ef ≪ n / nprobe ≪ lists (pgvector defaults: hnsw.ef_search = 40,
  // ivfflat.probes = 1) and accepts a recall floor instead. This entry
  // runs the SAME verbatim distance-ASC SQL through BOTH index rules at
  // production knobs — HNSW EfKey = 64 (≪ 450+ staged rows at every
  // sf), IVF NprobeKey = 8 of 16 trained lists — and returns, per
  // family, the knob, recall@10 against the exact scan of the same
  // corpus, the ≥ 0.9 floor bit, and the fired-rewrite witness. No SQL
  // oracle is expressible (the output IS approximation quality), so the
  // result is golden-pinned (GoldenHashSpec) — deterministic because
  // the build, walk and probe are; FilteredAnnSpec asserts the floor at
  // both test sfs so a recall regression fails a spec, not just a pin.
  private val v22ApproxKnobs: Q = (s, dir) => {
    import org.apache.spark.sql.graft.{AnnProbeRewrite, HnswIndexRewrite}
    import s.implicits._
    val k = 10
    val hnswEf = 64
    val ivfNprobe = 8
    // exact top-k over the served corpus: the recall denominator. Same
    // staged table the HNSW artifact serves (raw embeddings + label).
    val hnswBase = acquireArtifact(s, "v18_hnsw", v18IndexFingerprint(dir))(
      buildV18Index(s, dir, _))
    val qLit = queryVecLiteral(s, dir)
    def topIds(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("fragment_id")).collect().map(_.getString(0)).toSeq
    val staged = s.read.parquet(s"$hnswBase/emb")
    staged.createOrReplaceTempView("v22_exact")
    val exact = try topIds(s.sql(
      s"""SELECT fragment_id FROM v22_exact WHERE label < 5
         |ORDER BY vector_cosine_distance(vector, $qLit) ASC, fragment_id
         |LIMIT $k""".stripMargin))
      finally s.catalog.dropTempView("v22_exact")
    // HNSW leg at ef = 64
    val hnswDf = serveHnswSqlAt(s, hnswBase, dir, ef = Some(hnswEf)) {
      (view, q) =>
        s"""SELECT fragment_id,
           |  1 - vector_cosine_distance(vector, $q) AS similarity
           |FROM $view WHERE label < 5
           |ORDER BY vector_cosine_distance(vector, $q) ASC, fragment_id
           |LIMIT $k""".stripMargin
    }
    val hnswHits = hnswDf.select(col("fragment_id")).collect()
      .map(_.getString(0)).toSet
    val hnswWalked = hnswDf.select(col("used_index_walk"))
      .head().getBoolean(0)
    // IVF leg at nprobe = 8 of 16 lists, same artifact + rule as v20
    val ivfBase = acquireArtifact(s, "v20_ivf", v20IndexFingerprint(dir))(
      buildV20Index(s, dir, _))
    s.conf.set(AnnProbeRewrite.QuantizerKey, s"$ivfBase/quantizer.txt")
    s.conf.set(AnnProbeRewrite.NprobeKey, ivfNprobe.toString)
    val (ivfHits, ivfPruned) = try {
      s.read.parquet(s"$ivfBase/idx").createOrReplaceTempView("v22_idx")
      try {
        val df = s.sql(
          s"""SELECT fragment_id FROM v22_idx WHERE label < 5
             |ORDER BY vector_cosine_distance(vector, $qLit) ASC, fragment_id
             |LIMIT $k""".stripMargin)
        val pruned = df.queryExecution.executedPlan.toString
          .linesIterator.filter(_.contains("PartitionFilters"))
          .exists(_.contains("list_id"))
        (topIds(df).toSet, pruned)
      } finally s.catalog.dropTempView("v22_idx")
    } finally {
      s.conf.unset(AnnProbeRewrite.QuantizerKey)
      s.conf.unset(AnnProbeRewrite.NprobeKey)
    }
    // ROUTED HNSW leg (VERDICT r13 task 3 joining the knob study): the
    // cluster-routed layout at its production knobs (replicas=3,
    // R=6/16) — the query walks only its routed shards, so this leg's
    // per-query cost is flat in total shard count. label filter joins
    // on from the staged corpus (the v15 metadata-join pattern);
    // witness = the routed scan partition-pruned on shard_id.
    val routedR = 6
    val routedBase = acquireArtifact(s, "v22_routed",
      v22RoutedFingerprint(dir))(buildV22RoutedIndex(s, dir, _))
    val router = graft.search.Ivf.load(s"$routedBase/idx.router.txt")
    val qVec = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val meta = staged.select(col("fragment_id").as("__fid"),
      col("label").as("__label"))
    val routedAdj = s.read.parquet(s"$routedBase/idx")
      .join(meta, col("fragment_id") === col("__fid"), "left")
    val routedDf = graft.search.Hnsw.searchIndexRouted(routedAdj,
      Seq(("q", qVec)), k, ef = hnswEf, router, probeShards = routedR,
      predicate = Some(col("__label") < 5))
    val routedPruned = routedDf.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("PartitionFilters"))
      .exists(_.contains("shard_id"))
    val routedHits = routedDf.select(col("fragment_id")).collect()
      .map(_.getString(0)).toSet
    def recall(hits: Set[String]): Double =
      exact.count(hits).toDouble / exact.size
    Seq(
      ("hnsw", s"ef=$hnswEf", recall(hnswHits),
        recall(hnswHits) >= 0.9, hnswWalked),
      ("hnsw_routed", s"ef=$hnswEf,R=$routedR/16,rep=3",
        recall(routedHits), recall(routedHits) >= 0.9, routedPruned),
      ("ivf", s"nprobe=$ivfNprobe", recall(ivfHits),
        recall(ivfHits) >= 0.9, ivfPruned))
      .toDF("family", "knob", "recall10", "recall_ok", "used_rewrite")
  }

  private[graft] def v22RoutedFingerprint(dir: String): String =
    StageCache.sourceFingerprint(Seq(s"$dir/embeddings.parquet"),
      "v22routed|S=16,rep=3,m=16,efc=200,id=f%06d,sample=1024")

  /** The routed serving artifact: cluster-routed adjacency + router
    * sidecar, over the same f%06d-keyed corpus the v18 artifact stages.
    */
  private[graft] def buildV22RoutedIndex(s: SparkSession, dir: String,
      base: String): Unit = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(format_string("f%06d", col("vec_id")).as("fragment_id"),
        col("embedding").as("vector"))
    val sample = e.orderBy(col("fragment_id")).limit(1024)
      .select(col("vector")).as[Seq[Float]].collect().map(_.toArray)
    val router = graft.search.Ivf.train(sample, 16)
    graft.search.Hnsw.saveIndexRouted(e, s"$base/idx", router,
      replicas = 3)
  }

  private val v18Sql = {
    val sim = duckCosine("e.embedding", "q.qv")
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |s AS (SELECT printf('f%06d', e.vec_id) AS fragment_id, $sim AS sim
       |      FROM embeddings e, q WHERE e.label < 5)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, fragment_id)
       |    AS BIGINT) AS rank,
       |  fragment_id, true AS used_index_walk
       |FROM s ORDER BY sim DESC, fragment_id LIMIT 10""".stripMargin
  }

  private val v20Sql = {
    val sim = duckCosine("e.embedding", "q.qv")
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |s AS (SELECT printf('f%06d', e.vec_id) AS fragment_id, $sim AS sim
       |      FROM embeddings e, q WHERE e.label < 5)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, fragment_id)
       |    AS BIGINT) AS rank,
       |  fragment_id, true AS used_probe_prune
       |FROM s ORDER BY sim DESC, fragment_id LIMIT 10""".stripMargin
  }

  // the exact post-update KNN, recomputed from the same delta rules the
  // maintained index applied: deletes filtered out, replaced vectors
  // reversed (list_reverse — pure element permutation, no arithmetic),
  // inserts present. A maintenance bug on any path changes these ranks.
  private val v21Sql = {
    val sim = duckCosine("f.v", "q.qv")
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |f AS (SELECT printf('f%06d', vec_id) AS fragment_id,
       |        CASE WHEN vec_id % 10 = 7 THEN list_reverse(embedding)
       |             ELSE embedding END AS v,
       |        label
       |      FROM embeddings WHERE vec_id % 10 <> 5),
       |s AS (SELECT fragment_id, $sim AS sim FROM f, q WHERE f.label < 5)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, fragment_id)
       |    AS BIGINT) AS rank,
       |  fragment_id, true AS used_index_walk
       |FROM s ORDER BY sim DESC, fragment_id LIMIT 10""".stripMargin
  }

  val defs: Map[String, Q] = Map(
    "v18_hnsw_sql_knn" -> v18HnswSqlKnn,
    "v19_hnsw_sql_distance" -> v19HnswSqlDistance,
    "v20_ivf_sql_distance" -> v20IvfSqlDistance,
    "v21_hnsw_maintained_serve" -> v21HnswMaintainedServe,
    "v25_routed_maintained_serve" -> v25RoutedMaintainedServe,
    "v22_approx_serving" -> v22ApproxKnobs,
    "v16_hybrid_topk" -> v16HybridTopk,
    "v24_gated_fusion" -> v24GatedFusion,
    "v15_filtered_ann" -> v15FilteredAnn,
    "v14_hybrid_rrf" -> v14HybridRrf,
    "v1_knn_exact" -> v1Knn,
    "v17_retrieval_metrics" -> v17Metrics,
    "v2_knn_batch" -> v2BatchKnn,
    "v3_lsh_buckets" -> v3LshBuckets,
    "v4_embed_neardup" -> v4NearDup,
    "v11_semdedup" -> v11SemDedup,
    "v12_mmr_rerank" -> v12Mmr,
    "v13_filtered_knn" -> v13FilteredKnn)

  val oracles: Map[String, String] = Map(
    "v18_hnsw_sql_knn" -> v18Sql,
    // the distance-ASC text must return the SAME ranked ids as the
    // similarity-DESC text — one exact-KNN oracle serves both
    "v19_hnsw_sql_distance" -> v18Sql,
    // the IVF path at full probe is exact by construction — the same
    // exact-KNN ranks, under the probe-prune witness column
    "v20_ivf_sql_distance" -> v20Sql,
    // v21: exact KNN over the POST-delta corpus (insert+replace+delete
    // replayed in SQL) — the maintained index must serve these ranks
    "v21_hnsw_maintained_serve" -> v21Sql,
    // v25: exact post-update KNN replay — identical delta rules to v21;
    // a green hash additionally witnesses lossless R=6/8 routing on
    // this corpus/query (see the query scaladoc)
    "v25_routed_maintained_serve" -> v25Sql,
    // v22 is deliberately absent: approximate serving has no SQL
    // oracle (the output IS recall quality) — golden-pinned instead
    "v16_hybrid_topk" -> v16Sql,
    // v24: the floor is a write-time artifact the oracle READS (the g6
    // centroid precedent); confidence, gate, and weighted fusion are
    // replayed independently
    "v24_gated_fusion" -> v24Sql,
    "v15_filtered_ann" -> v15Sql,
    "v14_hybrid_rrf" -> v14Sql,
    "v1_knn_exact" -> v1Sql,
    "v17_retrieval_metrics" -> v17Sql,
    "v2_knn_batch" -> v2Sql,
    "v3_lsh_buckets" -> v3Sql,
    "v4_embed_neardup" -> v4Sql,
    "v11_semdedup" -> v11Sql,
    "v12_mmr_rerank" -> v12Sql,
    "v13_filtered_knn" -> v13Sql)
}
