package graft.search

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{PartitionedSwap, TableSwap}

/** Incremental maintenance of a persisted HNSW adjacency table — the
  * graph-index counterpart of [[IndexMaintenance.updateIndex]]'s
  * frozen-quantizer IVF contract. ONE path serves both graph layouts;
  * the layout is read off the artifact (a router sidecar
  * `<path>.router.txt` marks a cluster-routed index, the same file
  * [[org.apache.spark.sql.graft.HnswIndexRewrite]] and
  * [[VectorSearch.dense]] route by), and only the delta's PLACEMENT
  * differs between them:
  *
  *  - hash layout ([[Hnsw.saveIndex]]): the affected shards are the ones
  *    the removed ids hash to ([[placeHashed]]);
  *  - routed layout ([[Hnsw.saveIndexRouted]]): delta vectors route
  *    through the frozen router and whole cells re-split
  *    ([[placeRouted]]).
  *
  * Everything else is shared: one pruned read of the affected shards,
  * one per-shard kernel ([[maintainShard]]) and one staged commit. The
  * economics differ from IVF on purpose. IVF lists follow geometry, so a
  * delta touches ~nprobe-sized slices; a graph must fit one task, so a
  * delta's rows spread across shards and the per-shard operation
  * matters:
  *
  *  - a shard receiving only INSERTS extends its restored graph in
  *    place — `add()` is exactly the build-time insertion, so the cost
  *    is `O(delta·efC·log n_shard)` distance ops, never a rebuild;
  *  - a shard where an id is REPLACED or DELETED (or one its placement
  *    forces to re-split) rebuilds from (remaining ∪ delta) — HNSW has
  *    no cheap node removal (neighbor lists reference the node from
  *    arbitrary distances; the standard alternatives are tombstones that
  *    poison every later query or a rebuild, and a per-shard rebuild is
  *    bounded by shard size).
  *
  * Either way the graph invariants survive: insertion appends spine
  * edges (`idx ↔ idx-1` at layer 0), so layer 0 stays connected and
  * `ef = n` remains a PROVABLE exactness witness after any update
  * sequence — HnswMaintenanceSpec pins exactness over the post-update
  * content for insert, replace and delete, on both layouts.
  *
  * Crash safety is the [[IndexMaintenance]] protocol verbatim
  * ([[PartitionedSwap.commit]]): affected shards stage first, a manifest
  * (written only after the staged parquet commits) makes [[recover]]
  * roll the WHOLE update forward, staging and manifest are deleted only
  * after every shard swapped. Untouched shards are never read and their
  * files stay byte-identical.
  *
  * Build geometry rides in a sidecar written by [[writeIndex]]
  * (`_hnsw_meta.txt`: shard count, m, efConstruction) or
  * [[writeIndexRouted]] (`_routed_meta.txt`: m, efConstruction,
  * sub-shard row target) — updates reuse it, so a delta can never be
  * inserted with a different geometry than the index was built with
  * (the ivf_q_hash lesson: mixed geometry must be impossible, not
  * merely discouraged).
  */
object HnswMaintenance {

  final case class Meta(numShards: Int, m: Int, efConstruction: Int)

  final case class RoutedMeta(m: Int, efConstruction: Int,
      targetShardRows: Long)

  final case class UpdateStats(
      affectedShards: Seq[Int],
      extendedShards: Seq[Int],
      rebuiltShards: Seq[Int],
      incomingRows: Long)

  private val PartCol = "shard_id"
  private def metaOf(p: String) = s"$p/_hnsw_meta.txt" // leading _ : ignored by Spark file index
  private def routedMetaOf(p: String) = s"$p/_routed_meta.txt"
  private def routerOf(p: String) = s"$p.router.txt"

  /** [[Hnsw.saveIndex]] plus the geometry sidecar — the entry point a
    * maintainable index must be created through.
    */
  def writeIndex(embeddings: DataFrame, path: String, numShards: Int,
      m: Int = 16, efConstruction: Int = 200, vectorCol: String = "vector",
      idCol: String = "fragment_id", docCol: Option[String] = None): Unit = {
    Hnsw.saveIndex(embeddings, path, numShards, m, efConstruction,
      vectorCol, idCol, docCol)
    Files.write(Paths.get(metaOf(path)),
      s"$numShards $m $efConstruction".getBytes(StandardCharsets.UTF_8))
  }

  def readMeta(path: String): Meta = {
    val parts = new String(Files.readAllBytes(Paths.get(metaOf(path))),
      StandardCharsets.UTF_8).trim.split(" ")
    Meta(parts(0).toInt, parts(1).toInt, parts(2).toInt)
  }

  /** [[Hnsw.saveIndexRouted]] plus the geometry sidecar — the entry
    * point a MAINTAINABLE routed index must be created through (the
    * router itself persists at `<path>.router.txt` inside
    * saveIndexRouted).
    */
  def writeIndexRouted(embeddings: DataFrame, path: String,
      router: Ivf.Quantizer, replicas: Int = 3, m: Int = 16,
      efConstruction: Int = 200,
      targetShardRows: Long = Hnsw.RoutedTargetShardRows,
      vectorCol: String = "vector", idCol: String = "fragment_id",
      docCol: Option[String] = None): Unit = {
    Hnsw.saveIndexRouted(embeddings, path, router, replicas, m,
      efConstruction, vectorCol, idCol, docCol)
    Files.write(Paths.get(routedMetaOf(path)),
      s"$m $efConstruction $targetShardRows"
        .getBytes(StandardCharsets.UTF_8))
  }

  def readRoutedMeta(path: String): RoutedMeta = {
    val parts = new String(Files.readAllBytes(Paths.get(routedMetaOf(path))),
      StandardCharsets.UTF_8).trim.split(" ")
    RoutedMeta(parts(0).toInt, parts(1).toInt, parts(2).toLong)
  }

  /** The shard an id hashes to — MUST agree with the
    * `repartition(numShards, col(idCol))` assignment used at build time.
    * It does by construction: hash partitioning places a row at
    * `pmod(murmur3(key), n)` and [[functions.hash]] is the same murmur3
    * expression (seed 42); HnswMaintenanceSpec pins the agreement.
    */
  private def shardCol(idCol: String, numShards: Int) =
    pmod(hash(col(idCol)), lit(numShards)).cast("int")

  /** The build-time sub-shard hash — MUST match
    * [[Hnsw.buildIndexTableRouted]]'s placement (it does: same
    * expression). Placement consistency is a balance nicety, not a
    * correctness need — search walks the whole cell range either way. */
  private def subOf(id: String, subs: Int): Int =
    if (subs <= 1) 0 else ((id.hashCode % subs) + subs) % subs

  /** One node on its way into [[maintainShard]]: (target shard,
    * node_idx — -1 marks a delta row, id, vector, links, doc_id,
    * vec_hash). */
  private type Node = (Int, Int, String, Array[Float], Array[Array[Int]],
    String, Option[Long])

  /** Where a delta lands — the only layout-specific step of
    * [[updateIndex]].
    *
    * @param affected shards read, rewritten and swapped
    * @param delta    the incoming rows as [[Node]]s on their target shard
    * @param retarget an existing node's target shard (a re-split moves it)
    * @param forced   shards that rebuild whether or not they hold a
    *                 removed id
    * @param stamp    a constant `router_hash` every staged row carries
    * @param planned  (extended, rebuilt) shards when the placement fixes
    *                 them up front; otherwise read off the kernel's output
    */
  private final case class Placement(affected: Seq[Int],
      delta: Dataset[Node], retarget: Node => Node, forced: Int => Boolean,
      stamp: Option[Long], planned: Option[(Seq[Int], Seq[Int])])

  /** Apply a delta to either layout: `incoming` rows are UPSERTS (an id
    * already in the index is replaced, a new id is inserted), `dropIds`
    * are deletions. Only the affected shards are read, rewritten and
    * swapped; everything else stays byte-identical.
    */
  def updateIndex(spark: SparkSession, indexPath: String,
      incoming: DataFrame, dropIds: Seq[String] = Nil,
      vectorCol: String = "vector", idCol: String = "fragment_id",
      docCol: Option[String] = None): UpdateStats = {
    recover(indexPath)
    // the layout the artifact declares, geometry first: a missing
    // sidecar fails before any Spark work. A routed delta replicates
    // exactly as the build did, so the router's replica count must be
    // known.
    val layout: Either[Meta, (RoutedMeta, Ivf.Quantizer)] =
      if (Files.isRegularFile(Paths.get(routerOf(indexPath)))) {
        val meta = readRoutedMeta(indexPath)
        val router = Ivf.load(routerOf(indexPath))
        require(router.replicas != 0,
          s"router sidecar at ${routerOf(indexPath)} has unknown replica " +
            "provenance — a routed index must be written through " +
            "writeIndexRouted")
        Right((meta, router))
      } else Left(readMeta(indexPath))
    val (mm, efC) = layout.fold(g => (g.m, g.efConstruction),
      g => (g._1.m, g._1.efConstruction))
    import spark.implicits._

    // the replaced-id set collects to the driver and broadcasts — the
    // same delta-sized collect [[IndexMaintenance.updateIndex]] does for
    // replaced documents (a delta batch is O(delta), never O(corpus))
    val deltaIds = incoming.select(col(idCol).cast("string"))
      .as[String].collect()
    val removed = (deltaIds ++ dropIds).toSet
    if (removed.isEmpty) return UpdateStats(Nil, Nil, Nil, 0L)

    val adj = spark.read.parquet(indexPath)
    val docExpr = docCol.map(c => col(c).cast("string"))
      .getOrElse(col(idCol).cast("string"))
    val p = layout.fold(
      placeHashed(spark, _, incoming, removed, vectorCol, idCol, docExpr),
      g => placeRouted(spark, indexPath, adj, g._1, g._2, incoming, removed,
        vectorCol, idCol, docExpr))

    // partition-pruned read of the affected shards only; delta rows ride
    // in the SAME grouped dataset marked node_idx = -1, so a shard that
    // never existed before still forms a group and builds fresh.
    // vec_hash is the hash of the node's RAW source vector: kept nodes
    // CARRY their stored value (recomputing from the re-normalized
    // stored vector would drift — unitNormalize is not bit-idempotent),
    // delta nodes hash their raw incoming vector; a legacy table
    // without the column carries NULLs through (the serving guard
    // passes them unchecked)
    val hashExpr =
      if (adj.columns.contains("vec_hash")) col("vec_hash").cast("long")
      else lit(null).cast("long")
    val existing = adj
      .filter(col("shard_id").isin(p.affected.map(Integer.valueOf): _*))
      .select(col("shard_id").cast("int"), col("node_idx").cast("int"),
        col(idCol).cast("string"), col(vectorCol), col("links"),
        col("doc_id").cast("string"), hashExpr.as("vec_hash"))
      .as[Node]
      .map(p.retarget)

    val removedB = spark.sparkContext.broadcast(removed)
    val forced = p.forced
    val rebuilt = existing.union(p.delta)
      .groupByKey(_._1).flatMapGroups { (shard, it) =>
        maintainShard(shard, it.toArray, removedB.value, forced(shard),
          mm, efC)
      }.persist()

    try {
      val staging = PartitionedSwap.stagingOf(indexPath)
      TableSwap.rmTreeAt(staging)
      val staged = rebuilt.toDF("shard_id", "node_idx", idCol, vectorCol,
          "links", "doc_id", "vec_hash", "__rebuilt")
        .drop("__rebuilt")
      p.stamp.fold(staged)(h => staged.withColumn("router_hash", lit(h)))
        .write.partitionBy("shard_id").parquet(staging)
      val (extended, rebuiltShards) = p.planned.getOrElse {
        val r = rebuilt.filter(_._8).map(_._1).distinct().collect()
          .toSeq.sorted
        (p.affected.diff(r), r)
      }
      PartitionedSwap.commit(indexPath, PartCol, p.affected)
      UpdateStats(p.affected, extended, rebuiltShards,
        deltaIds.length.toLong)
    } finally { rebuilt.unpersist(); () }
  }

  /** Hash-layout placement: every removed id's shard is affected (a new
    * id's shard may not exist yet — it stages as a fresh graph). No
    * shard is forced to rebuild; one does when it holds a removed id,
    * which only its kernel can see, so the rebuilt set is read off the
    * kernel's output. */
  private def placeHashed(spark: SparkSession, meta: Meta,
      incoming: DataFrame, removed: Set[String], vectorCol: String,
      idCol: String, docExpr: Column): Placement = {
    import spark.implicits._
    val affected = removed.toSeq.toDF(idCol)
      .select(shardCol(idCol, meta.numShards)).distinct().as[Int].collect()
      .toSeq.distinct.sorted
    val delta = incoming
      .select(shardCol(idCol, meta.numShards).as("shard_id"),
        lit(-1).as("node_idx"), col(idCol).cast("string"),
        col(vectorCol), typedLit(Array.empty[Array[Int]]).as("links"),
        docExpr.as("doc_id"), lit(null).cast("long").as("vec_hash"))
      .as[Node]
    Placement(affected, delta, identity, _ => false, None, None)
  }

  /** Routed-layout placement. The cluster-routed index
    * ([[Hnsw.buildIndexTableRouted]]) shards by EMBEDDING CELL (frozen
    * k-means router, ×replicas assignment) with size-bounded hash
    * sub-shards (`shard_id = cell · RoutedSubFactor + sub`), so:
    *
    *  - delta vectors route through the FROZEN router sidecar (the
    *    IndexMaintenance frozen-quantizer contract — retraining the
    *    router would reshuffle every cell);
    *  - a REPLACED id's old rows can live in DIFFERENT cells than its
    *    new vector routes to (content moved in embedding space), so the
    *    removal set locates old rows by a delta-bounded (shard_id, id)
    *    scan, like the document cascade's lookup;
    *  - sub-shard structure is a per-cell LOAD-BALANCING detail
    *    invisible to search ([[Hnsw.searchIndexRouted]] prunes by CELL
    *    RANGE and walks every sub-shard in it), so a HOT cell re-splits
    *    freely: any cell with removals — or grown past its sub-shard
    *    budget — rebuilds over final content at
    *    `subs = ceil(rows/target)`, each sub-graph in its own task, and
    *    its existing rows retarget into the new split; an insert-only
    *    cell within budget extends its existing sub-graphs in place.
    *
    * The router fingerprint stamped per row is validated against the
    * sidecar before any rewrite (a retrained router against a stale
    * adjacency is a hard error, never a silent misroute), and every
    * staged row carries it.
    */
  private def placeRouted(spark: SparkSession, indexPath: String,
      adj: DataFrame, meta: RoutedMeta, router: Ivf.Quantizer,
      incoming: DataFrame, removed: Set[String], vectorCol: String,
      idCol: String, docExpr: Column): Placement = {
    import spark.implicits._
    val replicas = math.max(1, router.replicas)
    val routerHash = Ivf.contentHash(router)
    val F = Hnsw.RoutedSubFactor
    require(!adj.columns.contains("router_hash") ||
      adj.filter(col("router_hash").isNotNull &&
        col("router_hash") =!= lit(routerHash)).isEmpty,
      s"router_hash mismatch at $indexPath: the adjacency was not " +
        "assigned by the sidecar router — refusing to maintain")
    // where the removed ids currently live (×replicas rows, delta-
    // bounded): a two-column pruned-projection scan of the index
    val removedDf = removed.toSeq.toDF(idCol)
    val oldLoc: Array[(Int, String)] = adj
      .select(col("shard_id").cast("int"), col(idCol).cast("string"))
      .join(broadcast(removedDf), Seq(idCol), "left_semi")
      .select(col("shard_id"), col(idCol)).as[(Int, String)].collect()
    val removalsByCell: Map[Int, Set[String]] = oldLoc
      .groupBy(_._1 / F).view.mapValues(_.map(_._2).toSet).toMap

    // delta assignment under the frozen router (codegen'd multi-assign);
    // only (id, cell) pairs come to the driver — the vectors stay
    // distributed
    val deltaCelledDs = incoming
      .select(col(idCol).cast("string").as("__id"), col(vectorCol).as("__v"),
        docExpr.as("__doc"),
        explode(Ivf.multiAssignCol(col(vectorCol), router, replicas))
          .as("__cell0"))
      .select(col("__id"), col("__v"), col("__doc"),
        col("__cell0").cast("int"))
      .as[(String, Array[Float], String, Int)]
    val deltaIdCells: Array[(String, Int)] = deltaCelledDs
      .map(r => (r._1, r._4)).collect()
    val insertsByCell: Map[Int, Int] =
      deltaIdCells.groupBy(_._2).view.mapValues(_.length).toMap

    val affectedCells =
      (removalsByCell.keySet ++ insertsByCell.keySet).toSeq.sorted
    // current per-cell geometry from the live partitions: sub count and
    // row count, read off the affected cells only (pruned)
    val cellRange = affectedCells.map { c =>
      col("shard_id") >= c * F && col("shard_id") < (c + 1) * F
    }.reduce(_ || _)
    val shardCounts: Map[Int, Long] = adj.filter(cellRange)
      .groupBy(col("shard_id").cast("int")).agg(count(lit(1)))
      .as[(Int, Long)].collect().toMap
    val subsNow: Map[Int, Int] = shardCounts.keys.toSeq.groupBy(_ / F)
      .view.mapValues(ss => ss.map(_ % F).max + 1).toMap
    val countNow: Map[Int, Long] = shardCounts.toSeq.groupBy(_._1 / F)
      .view.mapValues(_.map(_._2).sum).toMap

    // per cell: (rebuild, subs) — rebuild on removals, a new cell, or a
    // blown sub-budget (the hot-cell re-split: subs recomputed from
    // final content), else extend in place at the current split
    val plan: Map[Int, (Boolean, Int)] = affectedCells.map { c =>
      val cur = subsNow.getOrElse(c, 0)
      val newCount = countNow.getOrElse(c, 0L) -
        removalsByCell.getOrElse(c, Set.empty).size * 1L +
        insertsByCell.getOrElse(c, 0)
      val needed = math.max(1,
        math.ceil(newCount.toDouble / meta.targetShardRows).toInt)
      require(needed < F,
        s"routed cell $c needs >= $F sub-shards — raise targetShardRows")
      if (removalsByCell.contains(c) || cur == 0 || needed > cur)
        c -> (true, needed)
      else c -> (false, cur)
    }.toMap
    val planB = spark.sparkContext.broadcast(plan)

    val rebuiltShards = plan.toSeq.collect { case (c, (true, subs)) =>
      // old subs' dirs must swap too (a re-split can shrink or grow)
      (0 until math.max(subs, subsNow.getOrElse(c, 0))).map(c * F + _)
    }.flatten.sorted
    val extendedShards = deltaIdCells.toSeq
      .filter(d => !plan(d._2)._1)
      .map(d => d._2 * F + subOf(d._1, plan(d._2)._2))
      .distinct.sorted
    val delta = deltaCelledDs.map { case (id, v, doc, cell) =>
      (cell * F + subOf(id, planB.value(cell)._2), -1, id, v,
        Array.empty[Array[Int]], doc, None: Option[Long])
    }
    // extend cells keep their shard; rebuild cells re-hash into the new
    // sub split
    val retarget = (r: Node) => {
      val cell = r._1 / F
      val (rebuild, subs) = planB.value(cell)
      if (rebuild) r.copy(_1 = cell * F + subOf(r._3, subs)) else r
    }
    Placement((rebuiltShards ++ extendedShards).distinct.sorted, delta,
      retarget, shard => planB.value(shard / F)._1, Some(routerHash),
      Some((extendedShards, rebuiltShards)))
  }

  /** The per-shard kernel: one shard's existing nodes (`node_idx ≥ 0`)
    * and delta rows (`node_idx = -1`) become its new graph. A shard that
    * is `forced`, holds a removed id, or has no graph yet builds fresh
    * over its final content (kept nodes minus removed ids, plus the
    * delta) in id order — the fresh-build insertion order; any other
    * shard restores its graph and extends it with the delta in id
    * order. The per-node (doc_id, vec_hash) travels as a parallel array
    * — node index = insertion order on every path, so position i's meta
    * follows node i. Each output row carries whether its shard rebuilt.
    */
  private def maintainShard(shard: Int, nodes: Array[Node],
      removed: Set[String], forced: Boolean, m: Int, efC: Int)
      : Iterator[(Int, Int, String, Array[Float], Array[Array[Int]], String,
        Option[Long], Boolean)] = {
    val (exRaw, dlRaw) = nodes.partition(_._2 >= 0)
    val rows = exRaw.sortBy(_._2)
    // delta hash = hash of the raw incoming vector, HERE — before any
    // build re-normalizes it
    val delta = dlRaw
      .map(r => (r._3, r._4, (r._6, Some(Hnsw.normHash(r._4)): Option[Long])))
      .sortBy(_._1)
    val rebuild = forced || rows.exists(r => removed.contains(r._3))
    val (g, metas) =
      if (rebuild || rows.isEmpty) {
        val keep = rows.filterNot(r => removed.contains(r._3))
          .map(r => (r._3, r._4, (r._6, r._7)))
        val all = (keep ++ delta).sortBy(_._1)
        if (all.isEmpty) (null, Array.empty[(String, Option[Long])])
        else (Hnsw.build(all.map(d => (d._1, d._2)).toSeq, m, efC),
          all.map(_._3))
      } else {
        val g0 = new Hnsw.Index(rows.head._4.length, m, efC)
        g0.importRows(rows.iterator.map(r => (r._2, r._3, r._4, r._5)).toSeq)
        delta.foreach { case (id, v, _) => g0.add(id, v) }
        (g0, rows.map(r => (r._6, r._7)) ++ delta.map(_._3))
      }
    if (g == null) Iterator.empty
    else g.exportRows.iterator.map { case (i, id, v, ls) =>
      (shard, i, id, v, ls, metas(i)._1, metas(i)._2, rebuild)
    }
  }

  /** Document-level cascade (the reference's replace-by-document
    * semantics, storage/cascade.py:64-160), on either layout: every
    * document appearing in `incoming` — or listed in `dropDocs` — has ALL
    * its index rows replaced by the batch's rows for it. The old rows'
    * ids are found once with a two-column (doc_id, id) scan of the index
    * (distinct: a routed index holds one row per replica), the same
    * delta-bounded lookup [[IndexMaintenance.updateIndex]] does on its
    * docKey column. Idempotent: re-applying the same batch converges
    * (replaced rows are dropped and re-inserted identically).
    */
  def updateIndexByDoc(spark: SparkSession, indexPath: String,
      incoming: DataFrame, dropDocs: Seq[String] = Nil,
      vectorCol: String = "vector", idCol: String = "fragment_id",
      docCol: String = "document_id"): UpdateStats = {
    recover(indexPath)
    import spark.implicits._
    val replacedDocs =
      (incoming.select(col(docCol).cast("string")).distinct()
        .as[String].collect().toSeq ++ dropDocs).distinct
    if (replacedDocs.isEmpty) return UpdateStats(Nil, Nil, Nil, 0L)
    val docsDf = replacedDocs.toDF("doc_id")
    val oldIds = spark.read.parquet(indexPath)
      .select(col(idCol).cast("string"), col("doc_id").cast("string"))
      .join(broadcast(docsDf), Seq("doc_id"), "left_semi")
      .select(col(idCol)).as[String].collect().toSeq.distinct
    updateIndex(spark, indexPath, incoming, dropIds = oldIds,
      vectorCol = vectorCol, idCol = idCol, docCol = Some(docCol))
  }

  /** Heal a crash mid-[[updateIndex]] — the shared
    * [[graft.ingest.PartitionedSwap]] protocol on `shard_id` partitions
    * (manifest roll-forward, including the live+staging window inside an
    * individual swap). Idempotent; called at the start of every update.
    */
  def recover(indexPath: String): Unit = {
    PartitionedSwap.recover(indexPath, PartCol)
      .foreach(a => System.err.println(s"[hnsw-recover] $a"))
  }
}
