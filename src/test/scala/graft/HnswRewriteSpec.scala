package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.search.Hnsw
import org.apache.spark.sql.graft.HnswIndexRewrite

/** The HNSW SQL rewrite: with the adjacency + ef configs set, an
  * exact-looking filtered KNN (`WHERE … ORDER BY cosine DESC LIMIT k`)
  * over the EMBEDDINGS table is served by the persisted graph walk —
  * the reference's actual index class (pgvector HNSW,
  * storage/schema.py:78-84) behind unchanged SQL text. Off by default;
  * parity with the explicit Hnsw.searchIndex call when on; `ef ≥ n` is
  * an exactness witness, filtered or not; anything the walk cannot
  * provably serve falls back to the exact scan untouched.
  */
class HnswRewriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: java.nio.file.Path = _
  private var basePath: String = _
  private var indexPath: String = _
  private val dim = 4
  private val n = 40

  // 4 well-separated clusters on the first axis; grp alternates within
  private def rawRows: Seq[(String, Array[Float], Int)] =
    (0 until n).map { i =>
      val c = i % 4
      (f"frag$i%02d", Array(c * 10f + (i / 4) * 0.1f, 0.3f, 1f, 0.7f),
        (i / 4) % 2)
    }

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[2]", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    dir = Files.createTempDirectory("hnsw-rewrite")
    basePath = s"$dir/embeddings"
    indexPath = s"$dir/hnsw_idx"
    val s = spark
    import s.implicits._
    val df = rawRows.toDF("fragment_id", "vector", "grp")
    df.write.parquet(basePath)
    // ef witness needs ef >= max shard size; 2 shards of ~20 nodes
    Hnsw.saveIndex(s.read.parquet(basePath), indexPath, numShards = 2)
  }

  override def afterAll(): Unit = {
    spark.conf.unset(HnswIndexRewrite.IndexKey)
    spark.conf.unset(HnswIndexRewrite.EfKey)
    if (spark != null) spark.stop()
    graft.ingest.TableSwap.rmTreeAt(dir.toString)
  }

  private def confOn(ef: Int): Unit = {
    spark.conf.set(HnswIndexRewrite.IndexKey, indexPath)
    spark.conf.set(HnswIndexRewrite.EfKey, ef.toString)
  }

  private def confOff(): Unit = {
    spark.conf.unset(HnswIndexRewrite.IndexKey)
    spark.conf.unset(HnswIndexRewrite.EfKey)
  }

  private def sql(where: String, k: Int): DataFrame = {
    spark.read.parquet(basePath).createOrReplaceTempView("emb")
    spark.sql(
      s"""SELECT fragment_id,
         |  vector_cosine(vector,
         |    CAST(array(19.9, 0.3, 1.0, 0.7) AS array<float>)) AS sim
         |FROM emb $where
         |ORDER BY sim DESC, fragment_id LIMIT $k""".stripMargin)
  }

  private val qvec = Array(19.9f, 0.3f, 1f, 0.7f)

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  private def exactTopK(k: Int, pred: ((String, Array[Float], Int)) => Boolean)
      : Seq[String] =
    rawRows.filter(pred)
      .map(r => (-cosine(qvec, r._2), r._1)).sorted.take(k).map(_._2)

  private def walked(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("MapGroups") && plan.contains("hnsw_idx")
  }

  test("off by default: the exact scan plans as TakeOrderedAndProject") {
    val df = sql("", 5)
    assert(!walked(df), s"rewrite must be config-gated:\n" +
      df.queryExecution.executedPlan)
    assert(df.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      exactTopK(5, _ => true))
  }

  test("SQL KNN routes through the persisted graph; ef >= n is exact") {
    confOn(ef = n)
    try {
      val df = sql("", 5)
      assert(walked(df), s"expected the graph-walk plan:\n" +
        df.queryExecution.executedPlan)
      assert(df.collect().map(_.getString(0)).toSeq ==
        exactTopK(5, _ => true))
    } finally confOff()
  }

  test("filtered SQL KNN: base-table predicate joins onto the adjacency, " +
      "rides into the walk, ef >= n stays exact under it") {
    confOn(ef = n)
    try {
      val df = sql("WHERE grp = 1", 5)
      assert(walked(df), s"expected the graph-walk plan:\n" +
        df.queryExecution.executedPlan)
      val got = df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) == exactTopK(5, _._3 == 1),
        s"filtered walk diverged from exact filtered KNN: $got")
      // id parity with the explicit searchIndex call the rule
      // dispatches (sim VALUES are the exact expression by contract —
      // the walk's normalized-dot score only ranks, see the
      // served-similarity test)
      val adj = spark.read.parquet(indexPath)
      val meta = spark.read.parquet(basePath)
        .select(col("fragment_id").as("mid"), col("grp"))
      val enriched = adj.join(meta, adj("fragment_id") === col("mid"), "left")
      val explicitIds = Hnsw.searchIndex(enriched, Seq(("q", qvec)), 5,
          ef = n, predicate = Some(col("grp") === 1))
        .orderBy(col("similarity").desc, col("fragment_id"))
        .select(col("fragment_id"))
        .collect().map(_.getString(0)).toSeq
      assert(got.map(_._1) == explicitIds)
    } finally confOff()
  }

  test("partial ef still fills top-k from the walk") {
    confOn(ef = 8)
    try {
      val df = sql("WHERE grp = 0", 5)
      assert(walked(df))
      val got = df.collect().map(_.getString(0)).toSeq
      assert(got.size == 5)
      assert(got.forall(f => (f.drop(4).toInt / 4) % 2 == 0),
        s"ineligible rows leaked through the filtered walk: $got")
    } finally confOff()
  }

  test("wide output serves from the walk: the user's projections " +
      "re-evaluate over the k joined base rows") {
    // the reference's REAL serving shape: id + metadata + score
    confOn(ef = n)
    try {
      spark.read.parquet(basePath).createOrReplaceTempView("emb")
      def wide() = spark.sql(
        """SELECT fragment_id, grp, upper(fragment_id) AS fid_up,
          |  vector_cosine(vector,
          |    CAST(array(19.9, 0.3, 1.0, 0.7) AS array<float>)) AS sim
          |FROM emb WHERE grp = 0
          |ORDER BY sim DESC, fragment_id LIMIT 5""".stripMargin)
      val df = wide()
      assert(walked(df), s"wide output should now serve from the walk:\n" +
        df.queryExecution.executedPlan)
      val got = df.collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
      confOff()
      val exact = wide().collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
      assert(got == exact,
        "wide-served rows must equal the exact query bit-for-bit at ef>=n")
    } finally confOff()
  }

  test("unservable shapes fall back to the exact scan untouched") {
    confOn(ef = n)
    try {
      spark.read.parquet(basePath).createOrReplaceTempView("emb")
      // nondeterministic projections must not re-evaluate over a
      // different row set
      val nondet = spark.sql(
        """SELECT fragment_id, rand() AS r,
          |  vector_cosine(vector,
          |    CAST(array(19.9, 0.3, 1.0, 0.7) AS array<float>)) AS sim
          |FROM emb ORDER BY sim DESC, fragment_id LIMIT 5""".stripMargin)
      assert(!walked(nondet), "nondeterministic projection must fall back")
      assert(nondet.collect().length == 5)
      // predicate on the id column is not a metadata filter
      val onId = sql("WHERE fragment_id != 'frag00'", 5)
      assert(!walked(onId), "id predicate must fall back")
      // a join under the sort is not a plain KNN
      val joined = spark.sql(
        """SELECT a.fragment_id,
          |  vector_cosine(a.vector,
          |    CAST(array(19.9, 0.3, 1.0, 0.7) AS array<float>)) AS sim
          |FROM emb a JOIN emb b ON a.fragment_id = b.fragment_id
          |ORDER BY sim DESC LIMIT 5""".stripMargin)
      assert(!walked(joined), "joined shape must fall back")
      assert(joined.collect().length == 5)
      // k beyond the reference's top_k clamp
      val big = sql("", graft.search.VectorSearch.MaxTopK + 1)
      assert(!walked(big), "k beyond the clamp must fall back")
    } finally confOff()
  }

  test("served similarity values are the EXACT cosine, ranked by the walk") {
    // the graph ranks by dot of unit-normalized floats; the value under
    // the user's alias must still be the user's expression bit-for-bit
    // (pgvector's contract: the index orders, the SELECT list evaluates
    // on the heap tuple)
    val exactRows = sql("WHERE grp = 1", 5).collect()
      .map(r => (r.getString(0),
        java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq
    confOn(ef = n)
    try {
      val df = sql("WHERE grp = 1", 5)
      assert(walked(df))
      val served = df.collect()
        .map(r => (r.getString(0),
          java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq
      assert(served == exactRows,
        "walk-served sim values must equal the exact expression")
    } finally confOff()
  }

  test("cosine over anything but the indexed vector column falls back") {
    confOn(ef = n)
    try {
      spark.read.parquet(basePath).createOrReplaceTempView("emb")
      val df = spark.sql(
        """SELECT fragment_id,
          |  vector_cosine(slice(vector, 1, 4),
          |    CAST(array(19.9, 0.3, 1.0, 0.7) AS array<float>)) AS sim
          |FROM emb ORDER BY sim DESC, fragment_id LIMIT 5""".stripMargin)
      assert(!walked(df),
        "a computed ranking expression is not what the graph ranks by")
      assert(df.collect().length == 5)
    } finally confOff()
  }

  test("base metadata sharing a name with adjacency internals filters " +
      "on the BASE column, not the index's") {
    // a base column literally named shard_id must never be served from
    // the adjacency's own shard assignment
    val base2 = s"$dir/emb_shardcol"
    val idx2 = s"$dir/hnsw_idx_shardcol"
    val s = spark
    import s.implicits._
    rawRows.map { case (f, v, g) => (f, v, 100 + g) }
      .toDF("fragment_id", "vector", "shard_id")
      .write.mode("overwrite").parquet(base2)
    Hnsw.saveIndex(s.read.parquet(base2), idx2, numShards = 2)
    spark.conf.set(HnswIndexRewrite.IndexKey, idx2)
    spark.conf.set(HnswIndexRewrite.EfKey, n.toString)
    try {
      s.read.parquet(base2).createOrReplaceTempView("emb_sc")
      val df = s.sql(
        """SELECT fragment_id,
          |  vector_cosine(vector,
          |    CAST(array(19.9, 0.3, 1.0, 0.7) AS array<float>)) AS sim
          |FROM emb_sc WHERE shard_id = 101
          |ORDER BY sim DESC, fragment_id LIMIT 5""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("MapGroups") && plan.contains("hnsw_idx_shardcol"),
        s"expected the walk plan:\n$plan")
      val got = df.collect().map(_.getString(0)).toSeq
      // base shard_id = 100 + grp, so 101 selects grp = 1 exactly
      assert(got == exactTopK(5, _._3 == 1),
        s"predicate must bind to the BASE shard_id column: $got")
    } finally confOff()
  }

  test("verbatim pgvector distance-ASC text serves from the walk, " +
      "bit-for-bit equal to the exact scan") {
    // the reference's serving query verbatim (retrieval/search.py:106-112):
    // similarity = 1 - distance in the SELECT list, ORDER BY the distance
    // expression itself — which is NOT in the SELECT list, so the
    // analyzer threads it through an inner Project and drops it with an
    // attribute-only Project above the Sort
    def pgtext() = spark.sql(
      """SELECT fragment_id,
        |  1 - (1 - vector_cosine(vector,
        |    CAST(array(19.9, 0.3, 1.0, 0.7) AS array<float>))) AS similarity
        |FROM emb WHERE grp = 1
        |ORDER BY (1 - vector_cosine(vector,
        |    CAST(array(19.9, 0.3, 1.0, 0.7) AS array<float>))) ASC,
        |  fragment_id LIMIT 5""".stripMargin)
    spark.read.parquet(basePath).createOrReplaceTempView("emb")
    val exact = pgtext().collect()
      .map(r => (r.getString(0),
        java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq
    confOn(ef = n)
    try {
      val df = pgtext()
      assert(walked(df), s"distance-ASC text must serve from the walk:\n" +
        df.queryExecution.executedPlan)
      val served = df.collect()
        .map(r => (r.getString(0),
          java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq
      assert(served == exact,
        "distance-ASC served rows must equal the exact query bit-for-bit")
      assert(served.map(_._1) == exactTopK(5, _._3 == 1))
    } finally confOff()
  }

  test("vector_cosine_distance ASC serves — direct and via a select alias") {
    confOn(ef = n)
    try {
      spark.read.parquet(basePath).createOrReplaceTempView("emb")
      val direct = spark.sql(
        """SELECT fragment_id,
          |  1 - vector_cosine_distance(vector,
          |    CAST(array(19.9, 0.3, 1.0, 0.7) AS array<float>)) AS similarity
          |FROM emb
          |ORDER BY vector_cosine_distance(vector,
          |    CAST(array(19.9, 0.3, 1.0, 0.7) AS array<float>)),
          |  fragment_id LIMIT 5""".stripMargin)
      assert(walked(direct), s"named-distance ASC must serve:\n" +
        direct.queryExecution.executedPlan)
      assert(direct.collect().map(_.getString(0)).toSeq ==
        exactTopK(5, _ => true))
      val aliased = spark.sql(
        """SELECT fragment_id,
          |  vector_cosine_distance(vector,
          |    CAST(array(19.9, 0.3, 1.0, 0.7) AS array<float>)) AS dist
          |FROM emb WHERE grp = 0
          |ORDER BY dist ASC, fragment_id LIMIT 5""".stripMargin)
      assert(walked(aliased), s"aliased-distance ASC must serve:\n" +
        aliased.queryExecution.executedPlan)
      assert(aliased.collect().map(_.getString(0)).toSeq ==
        exactTopK(5, _._3 == 0))
    } finally confOff()
  }

  test("distance forms with the WRONG direction or constant fall back") {
    confOn(ef = n)
    try {
      spark.read.parquet(basePath).createOrReplaceTempView("emb")
      // distance DESC = worst-first: a top-k walk would be wrong
      val descDist = spark.sql(
        """SELECT fragment_id,
          |  vector_cosine_distance(vector,
          |    CAST(array(19.9, 0.3, 1.0, 0.7) AS array<float>)) AS dist
          |FROM emb ORDER BY dist DESC, fragment_id LIMIT 5""".stripMargin)
      assert(!walked(descDist), "distance DESC must fall back")
      // distance DESC ≡ cosine ASC: the WORST 5 matches
      assert(descDist.collect().map(_.getString(0)).toSeq ==
        rawRows.map(r => (cosine(qvec, r._2), r._1)).sorted
          .take(5).map(_._2))
      // (2 - cosine) ASC is NOT the cosine distance — only 1.0 folds
      val twoMinus = spark.sql(
        """SELECT fragment_id,
          |  (2 - vector_cosine(vector,
          |    CAST(array(19.9, 0.3, 1.0, 0.7) AS array<float>))) AS d2
          |FROM emb ORDER BY d2 ASC, fragment_id LIMIT 5""".stripMargin)
      assert(!walked(twoMinus), "(2 - cosine) ASC must fall back")
      assert(twoMinus.collect().length == 5)
      // cosine ASC = worst-first
      val ascCos = sqlAsc("", 5)
      assert(!walked(ascCos), "cosine ASC must fall back")
    } finally confOff()
  }

  private def sqlAsc(where: String, k: Int): DataFrame = {
    spark.read.parquet(basePath).createOrReplaceTempView("emb")
    spark.sql(
      s"""SELECT fragment_id,
         |  vector_cosine(vector,
         |    CAST(array(19.9, 0.3, 1.0, 0.7) AS array<float>)) AS sim
         |FROM emb $where
         |ORDER BY sim ASC, fragment_id LIMIT $k""".stripMargin)
  }

  test("an unreadable index path falls back instead of failing the query") {
    spark.conf.set(HnswIndexRewrite.IndexKey, s"$dir/no_such_index")
    spark.conf.set(HnswIndexRewrite.EfKey, n.toString)
    try {
      val df = sql("", 5)
      assert(df.collect().map(_.getString(0)).toSeq ==
        exactTopK(5, _ => true))
    } finally confOff()
  }

  test("an index built over DIFFERENT data hard-errors via vec_hash, " +
      "never silently mis-ranks; a legacy index without the column " +
      "still serves") {
    val s = spark
    import s.implicits._
    // same ids, perturbed vectors — the misbinding the walk cannot see:
    // every walk id joins a base row, but the rows are not what the
    // index ranked. Without the guard this SERVES wrong results.
    val tamperedPath = s"$dir/embeddings_tampered"
    rawRows.map { case (id, v, g) =>
      (id, v.map(x => x + 5f), g)
    }.toDF("fragment_id", "vector", "grp").write.parquet(tamperedPath)
    spark.read.parquet(tamperedPath).createOrReplaceTempView("emb_tam")
    confOn(n)
    try {
      val df = spark.sql(
        s"""SELECT fragment_id,
           |  vector_cosine(vector,
           |    CAST(array(19.9, 0.3, 1.0, 0.7) AS array<float>)) AS sim
           |FROM emb_tam ORDER BY sim DESC, fragment_id LIMIT 5"""
          .stripMargin)
      val e = intercept[Exception] { df.collect() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("hnsw vec_hash mismatch")),
        s"expected the binding guard to fire, got: $e")
    } finally {
      confOff()
      spark.catalog.dropTempView("emb_tam")
    }
    // legacy index tables (pre-vec_hash) serve unguarded: strip the
    // column and re-serve the REAL base table
    val legacyPath = s"$dir/hnsw_idx_legacy"
    spark.read.parquet(indexPath).drop("vec_hash")
      .write.partitionBy("shard_id").parquet(legacyPath)
    spark.conf.set(HnswIndexRewrite.IndexKey, legacyPath)
    spark.conf.set(HnswIndexRewrite.EfKey, n.toString)
    try {
      val df = sql("", 5)
      assert(walked(df), "legacy index must still serve from the walk")
      assert(df.collect().map(_.getString(0)).toSeq ==
        exactTopK(5, _ => true))
    } finally confOff()
  }

  test("vec_hash survives maintenance: a maintained index still serves " +
      "its (updated) base table with the guard engaged") {
    // the rebuild path re-normalizes kept vectors (unitNormalize is not
    // bit-idempotent), so vec_hash must be CARRIED for kept nodes and
    // computed only for delta rows — recomputing from the re-normalized
    // stored vector would drift and spuriously trip the guard on
    // untouched bystanders. Pinned two ways: the full-table invariant
    // (every node's vec_hash == contentHash of its base row), and an
    // end-to-end serve over the maintained index.
    val s = spark
    import s.implicits._
    val base2 = s"$dir/emb_maint"
    val idx2 = s"$dir/hnsw_idx_maint"
    rawRows.toDF("fragment_id", "vector", "grp").write.parquet(base2)
    graft.search.HnswMaintenance.writeIndex(spark.read.parquet(base2),
      idx2, numShards = 2)
    // replace frag06's vector (forces the rebuild path in its shard)
    // and insert a fresh id; the base table updates to match
    val newV6 = Array(20.05f, 0.3f, 1f, 0.7f)
    val newVx = Array(19.95f, 0.3f, 1f, 0.7f)
    val v2 = rawRows.map {
      case (id, _, g) if id == "frag06" => (id, newV6, g)
      case r => r
    } :+ (("fragnew", newVx, 0))
    val base2v2 = s"$dir/emb_maint_v2"
    v2.toDF("fragment_id", "vector", "grp").write.parquet(base2v2)
    graft.search.HnswMaintenance.updateIndex(spark, idx2,
      Seq(("frag06", newV6), ("fragnew", newVx))
        .toDF("fragment_id", "vector"))
    // full-table invariant: every maintained node binds to its base row
    val mismatches = spark.read.parquet(idx2)
      .select(col("fragment_id"), col("vec_hash"))
      .join(spark.read.parquet(base2v2), "fragment_id")
      .collect()
      .filter { r =>
        r.getLong(1) != Hnsw.contentHash(
          r.getAs[scala.collection.Seq[Float]]("vector").toArray)
      }
    assert(mismatches.isEmpty,
      s"maintained nodes drifted from their base rows: " +
        s"${mismatches.map(_.getString(0)).toSeq}")
    // end-to-end: the maintained index serves the updated table with
    // the guard engaged, bit-equal to the exact scan
    spark.read.parquet(base2v2).createOrReplaceTempView("emb_m")
    spark.conf.set(HnswIndexRewrite.IndexKey, idx2)
    spark.conf.set(HnswIndexRewrite.EfKey, (n + 1).toString)
    try {
      val df = spark.sql(
        s"""SELECT fragment_id,
           |  vector_cosine(vector,
           |    CAST(array(19.9, 0.3, 1.0, 0.7) AS array<float>)) AS sim
           |FROM emb_m ORDER BY sim DESC, fragment_id LIMIT 5"""
          .stripMargin)
      assert(walked(df), "maintained index must serve from the walk")
      val got = df.collect().map(_.getString(0)).toSeq
      confOff()
      val exact = spark.sql(
        s"""SELECT fragment_id,
           |  vector_cosine(vector,
           |    CAST(array(19.9, 0.3, 1.0, 0.7) AS array<float>)) AS sim
           |FROM emb_m ORDER BY sim DESC, fragment_id LIMIT 5"""
          .stripMargin).collect().map(_.getString(0)).toSeq
      assert(got == exact, s"maintained serve diverged: $got vs $exact")
      assert(got.contains("fragnew"),
        s"the delta row must be servable (it is nearest the query): $got")
    } finally {
      confOff()
      spark.catalog.dropTempView("emb_m")
    }
  }

  test("a ROUTED index behind the rewrite serves routed: the walk " +
      "partition-prunes to the query's cells instead of all-shard " +
      "fan-out (VERDICT r14 task 2b)") {
    val s = spark
    import s.implicits._
    val routedPath = s"$dir/hnsw_routed_idx"
    val router = graft.search.Ivf.train(rawRows.map(_._2).toArray, 4,
      iters = 5)
    graft.search.HnswMaintenance.writeIndexRouted(
      s.read.parquet(basePath), routedPath, router, replicas = 2,
      m = 8, efConstruction = 48)
    spark.conf.set(HnswIndexRewrite.IndexKey, routedPath)
    spark.conf.set(HnswIndexRewrite.EfKey, n.toString)
    try {
      // full coverage (probeCells = router.k): exact, served by the walk
      spark.conf.set(HnswIndexRewrite.ProbeCellsKey, router.k.toString)
      val full = sql("", 5)
      assert(full.queryExecution.executedPlan.toString
        .contains("MapGroups"), "routed rewrite must fire")
      assert(full.collect().map(_.getString(0)).toSeq ==
        exactTopK(5, _ => true))
      // pruned serving (probeCells = 1): the scan reads ONLY the routed
      // cell's sub-shard partitions — the wave-bound fan-out is gone
      // from the serving path; on this well-separated corpus the
      // query's own cluster holds the whole top-5, so the answer stays
      // exact (deterministic: seeded router, fixed corpus)
      spark.conf.set(HnswIndexRewrite.ProbeCellsKey, "1")
      val pruned = sql("", 5)
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.linesIterator.filter(_.contains("PartitionFilters"))
        .exists(_.contains("shard_id")),
        s"routed serve must partition-prune on shard_id:\n$plan")
      assert(pruned.collect().map(_.getString(0)).toSeq ==
        exactTopK(5, _ => true))
      // probeCells <= 0 degenerates to the (exact) full fan-out
      spark.conf.set(HnswIndexRewrite.ProbeCellsKey, "0")
      assert(sql("", 5).collect().map(_.getString(0)).toSeq ==
        exactTopK(5, _ => true))
      // and the vec_hash binding guard still rides the routed walk: a
      // routed index over DIFFERENT data with the same ids hard-errors
      // instead of silently mis-ranking
      spark.conf.unset(HnswIndexRewrite.ProbeCellsKey)
      val alienPath = s"$dir/hnsw_routed_alien"
      val alien = rawRows
        .map { case (f, v, g) => (f, v.map(x => x + 5f), g) }
        .toDF("fragment_id", "vector", "grp")
      graft.search.HnswMaintenance.writeIndexRouted(alien, alienPath,
        router, replicas = 2, m = 8, efConstruction = 48)
      spark.conf.set(HnswIndexRewrite.IndexKey, alienPath)
      val e = intercept[Exception] { sql("", 5).collect() }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("vec_hash mismatch"),
        s"expected the binding refusal, got: $msgs")
    } finally {
      confOff()
      spark.conf.unset(HnswIndexRewrite.ProbeCellsKey)
    }
  }

  test("a flat index written over a routed one serves flat: the stale " +
      "router sidecar is dropped, no cell is pruned away") {
    val s = spark
    val path = s"$dir/hnsw_relayout_idx"
    val router = graft.search.Ivf.train(rawRows.map(_._2).toArray, 4,
      iters = 5)
    graft.search.HnswMaintenance.writeIndexRouted(s.read.parquet(basePath),
      path, router, replicas = 1, m = 8, efConstruction = 48)
    graft.search.HnswMaintenance.writeIndex(s.read.parquet(basePath), path,
      numShards = 2)
    assert(!Files.exists(java.nio.file.Paths.get(s"$path.router.txt")))
    // a query routed away from cell 0: every flat shard id falls in cell
    // 0's range, so a routed walk of the flat graph would read nothing
    val q = (0 until 4).map(c => Array(c * 10f + 0.2f, 0.3f, 1f, 0.7f))
      .find(v => graft.search.Ivf.nearestLists(v, router, 1).head != 0).get
    def knn(): DataFrame = {
      s.read.parquet(basePath).createOrReplaceTempView("emb_relayout")
      s.sql(
        s"""SELECT fragment_id,
           |  vector_cosine(vector,
           |    CAST(array(${q.mkString(", ")}) AS array<float>)) AS sim
           |FROM emb_relayout ORDER BY sim DESC, fragment_id LIMIT 5"""
          .stripMargin)
    }
    try {
      val exact = knn().collect().map(_.getString(0)).toSeq
      spark.conf.set(HnswIndexRewrite.IndexKey, path)
      spark.conf.set(HnswIndexRewrite.EfKey, n.toString)
      spark.conf.set(HnswIndexRewrite.ProbeCellsKey, "1")
      val served = knn()
      assert(served.queryExecution.executedPlan.toString
        .contains("MapGroups"), "the rewrite must fire")
      val got = served.collect().map(_.getString(0)).toSeq
      assert(got.size == 5 && got == exact, s"flat serve lost rows: $got")
    } finally {
      confOff()
      spark.conf.unset(HnswIndexRewrite.ProbeCellsKey)
      spark.catalog.dropTempView("emb_relayout")
    }
  }
}
