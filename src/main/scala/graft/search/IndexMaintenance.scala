package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.ingest.TableSwap

/** Incremental maintenance of a persisted list-partitioned ANN index
  * (`embeddings_ivf` / `embeddings_ivfpq` / `embeddings_ivfsq`).
  *
  * A re-ingest replaces the entity tables document-by-document
  * ([[graft.ingest.IngestPipeline.replaceDocuments]]), but the ANN index is
  * partitioned by `list_id`, not by document — so the reference's
  * cascade-then-rewrite recipe (storage/cascade.py:64-160) cannot simply
  * overwrite a document partition, and a full index rebuild after every
  * incremental batch is the 100 TB anti-pattern (rebuilding a corpus-sized
  * index to absorb a 0.01% delta).
  *
  * The scalable operation, implemented here:
  *
  *  1. encode ONLY the incoming rows with the FROZEN quantizer/codebook —
  *     assignment is pure per-row map work, so a delta batch costs
  *     O(delta), never O(corpus);
  *  2. compute the affected list set = lists holding any replaced
  *     document's rows ∪ lists receiving new rows (bounded by k, collected
  *     to the driver as ints);
  *  3. rebuild just those partitions (partition-pruned scan of the
  *     affected lists, anti-join out the replaced documents, union the
  *     freshly encoded rows);
  *  4. swap each rebuilt partition directory into place with the
  *     stage-then-swap protocol of [[graft.ingest.TableSwap]], under a
  *     MANIFEST that makes the whole multi-list update roll forward: the
  *     manifest (list of affected lists) is written only after the staged
  *     parquet write completes, so on any crash [[recover]] can finish
  *     the remaining swaps from the retained staging instead of leaving
  *     a document half-replaced across lists. Staging and manifest are
  *     deleted only after every list has swapped.
  *
  * Freezing the quantizer is the standard IVF maintenance contract (FAISS
  * `add` after `train`): centroids drift only with major distribution
  * shift, at which point a full retrain/rebuild is an explicit operation.
  * Untouched lists are not read, not rewritten, and their files are left
  * byte-identical (spec-asserted) — at 100 TB that is the difference
  * between rewriting ~nprobe-sized slices and rewriting the corpus.
  */
object IndexMaintenance {

  final case class UpdateStats(
      affectedLists: Seq[Int],
      rewrittenRows: Long,
      incomingRows: Long)

  // the multi-partition stage/manifest/swap/recover protocol lives in
  // [[graft.ingest.PartitionedSwap]] (shared with HnswMaintenance —
  // crash-safety code must not fork per index family)
  private val PartCol = "list_id"
  private def stagingOf(indexPath: String) =
    graft.ingest.PartitionedSwap.stagingOf(indexPath)

  /** Update a list-partitioned index in place for a replaced/added document
    * batch. `incoming` holds the batch's NEW embedding rows (same schema
    * the index was built from, without `list_id`); every document appearing
    * in `incoming` has ALL its index rows replaced (cascade semantics) —
    * deleted documents can be passed as zero-row documents via `dropDocs`.
    *
    * @param encode turns incoming rows into index rows (must add `list_id`
    *               and any code columns the index carries — pass
    *               `Ivf.buildIndex(_, q)` for a plain IVF index, compose
    *               with `Pq.encode` for IVFPQ/IVFSQ).
    */
  def updateIndex(spark: SparkSession, indexPath: String,
      incoming: DataFrame, encode: DataFrame => DataFrame,
      docKey: String = "document_id", sortCol: String = "fragment_id",
      dropDocs: Seq[String] = Nil): UpdateStats = {
    recover(indexPath)
    // one materialization serves the list collection, the staging write
    // and the row count (the encode is the expensive per-row distance /
    // code assignment — recomputing it per consumer tripled update cost)
    val encoded = encode(incoming).persist()
    try {
      require(encoded.schema.fieldNames.contains("list_id"),
        "encode must add the list_id partition column")

      import spark.implicits._
      val replacedDocs =
        (incoming.select(col(docKey).cast("string")).distinct()
          .as[String].collect().toSeq ++ dropDocs).distinct
      val docsDf = replacedDocs.toDF(docKey)

      // affected lists: where the replaced docs' rows live now, plus where
      // the re-encoded rows land. Both sides are delta-sized scans — the
      // existing-side lookup reads only the docKey/list_id columns.
      val existing = spark.read.parquet(indexPath)
      // frozen-quantizer contract check: both the index rows and the
      // freshly encoded delta carry the quantizer fingerprint
      // ([[Ivf.buildIndex]] stamps ivf_q_hash) — if they disagree, the
      // caller is about to mix two list geometries in one index. Hard
      // error beats a silently wrong index (same pq_cb_hash contract).
      if (existing.columns.contains("ivf_q_hash") &&
          encoded.columns.contains("ivf_q_hash")) {
        val oldHash = existing.select("ivf_q_hash").head(1)
        val newHash = encoded.select("ivf_q_hash").head(1)
        if (oldHash.nonEmpty && newHash.nonEmpty)
          require(oldHash.head.getLong(0) == newHash.head.getLong(0),
            s"ivf_q_hash mismatch at $indexPath: the index was built with " +
              "a different quantizer than this update's encoder — " +
              "retrain means rebuild, not incremental update")
      }
      // same contract for the PQ codebook fingerprint (for RESIDUAL
      // indexes pq_cb_hash mixes codebook ⊕ coarse quantizer — see
      // Pq.encodeResidual — so this also refuses a plain-code delta
      // against a residual index and vice versa)
      if (existing.columns.contains("pq_cb_hash") &&
          encoded.columns.contains("pq_cb_hash")) {
        val oldHash = existing.select("pq_cb_hash").head(1)
        val newHash = encoded.select("pq_cb_hash").head(1)
        if (oldHash.nonEmpty && newHash.nonEmpty)
          require(oldHash.head.getLong(0) == newHash.head.getLong(0),
            s"pq_cb_hash mismatch at $indexPath: the index's codes were " +
              "produced by a different codebook (or residual/plain " +
              "encoding) than this update's encoder — retrain means " +
              "rebuild, not incremental update")
      }
      val oldLists = existing.join(broadcast(docsDf), Seq(docKey), "left_semi")
        .select(col("list_id").cast("int")).distinct().as[Int].collect()
      val newLists = encoded
        .select(col("list_id").cast("int")).distinct().as[Int].collect()
      val affected = (oldLists ++ newLists).distinct.sorted.toSeq
      if (affected.isEmpty)
        return UpdateStats(Nil, 0L, 0L)

      // schema contract: the frozen encoder must reproduce every index
      // column (a stray source-layout column baked into an old index, e.g.
      // doc_bucket, means the index predates the layout-column drop at
      // build time — rebuild it rather than fabricate values here)
      val missing = existing.columns.toSet -- encoded.columns.toSet
      require(missing.isEmpty,
        s"index at $indexPath carries columns the encoder does not produce " +
          s"(${missing.mkString(", ")}); rebuild the index")

      // rebuild ONLY the affected partitions: partition-pruned scan →
      // anti-join out every replaced document → union the new rows
      val rebuilt = existing
        .filter(col("list_id").isin(affected.map(Integer.valueOf): _*))
        .join(broadcast(docsDf), Seq(docKey), "left_anti")
        .unionByName(encoded.select(existing.columns.map(col): _*))

      val staging = stagingOf(indexPath)
      TableSwap.rmTreeAt(staging)
      graft.sources.TableLayout.writePartitionedSorted(
        rebuilt, staging, "list_id", Seq(sortCol))
      // explicit schema: a pure deletion can stage ZERO rows (every
      // affected list emptied), and a schema-less read of a file-less
      // staging dir fails with UNABLE_TO_INFER_SCHEMA
      val nRewritten =
        spark.read.schema(rebuilt.schema).parquet(staging).count()

      // a list can end up empty (its only doc replaced away) and swaps
      // in as an empty partition
      graft.ingest.PartitionedSwap.commit(indexPath, PartCol, affected)
      UpdateStats(affected, nRewritten, encoded.count())
    } finally { encoded.unpersist(); () }
  }

  /** Heal a crash mid-[[updateIndex]] — the shared
    * [[graft.ingest.PartitionedSwap]] protocol on `list_id` partitions.
    * Called automatically at the start of every update; index readers
    * should call it after an unclean shutdown.
    */
  def recover(indexPath: String): Seq[String] =
    graft.ingest.PartitionedSwap.recover(indexPath, PartCol)
}
