package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.domain.Model._
import graft.embedding.{Batching, Embedder, EmbeddingIds}
import graft.functions.{EmbedValidator, Hashing}

/** The batch ingest lineage (reference §3.2: api/use_cases/ingest.py:127-210)
  * as one narrow Spark stage per document:
  *
  *   files/texts → parse (S1/S2) → unitize (G1) → concepts+fragments (G2)
  *   → parent synthesis (G5) → eligibility filter (F3) → embed (E1/E3)
  *
  * Everything up to the table writes is a `mapPartitions` over documents —
  * a document's segments never interact with another document's, so there
  * is NO shuffle in the whole ingest plan; parallelism is file-level and
  * scales linearly with executors. The reference's cascade-delete semantics
  * (storage/cascade.py:64-160) become idempotent overwrite of the same
  * deterministic ids.
  */
object IngestPipeline {

  /** One input document: pre-read content + its source path. For text
    * sources `text` is the file's UTF-8 text; for `.pdf` sources it is the
    * raw bytes carried as an ISO-8859-1 string (a lossless byte↔char
    * bijection), decoded back to bytes at parse time — one input type
    * serves every source, so batch AND streaming ingest handle PDFs with
    * no schema change.
    */
  final case class DocInput(sourcePath: String, text: String, isOcr: Boolean)

  /** All entity rows derived from one document (kept nested so the
    * per-document fold runs once; accessors explode).
    */
  final case class ProcessedDoc(
      document: DocumentRow,
      concepts: Seq[ConceptRow],
      fragments: Seq[FragmentRow],
      parents: Seq[ParentRow])

  /** Pure per-document pipeline — unit-testable without Spark. */
  def processDocument(doc: DocInput,
      parentContextLimit: Int = ParentSynthesis.DefaultContextLimit,
      ingestedAt: java.sql.Timestamp = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")): ProcessedDoc = {
    val documentId = Hashing.documentId(doc.sourcePath)
    val segments =
      if (doc.sourcePath.endsWith(".pdf"))
        graft.sources.PdfSource.parsePdf(documentId, doc.sourcePath,
          doc.text.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
          graft.sources.RealPdfExtractor)
      else if (doc.sourcePath.endsWith(".md") || doc.sourcePath.endsWith(".markdown"))
        Parsers.parseMarkdown(documentId, doc.text)
      else Parsers.parseText(documentId, doc.text, isOcr = doc.isOcr)
    val unitized = new Unitizer().unitize(segments.toIndexedSeq)
    val built = ConceptBuilder.build(documentId, unitized)
    val fragsByConcept = built.fragments.groupBy(_.concept_id)
    val parents = built.concepts.map { c =>
      ParentSynthesis.synthesize(c.id, documentId, c.order,
        fragsByConcept.getOrElse(c.id, Nil), parentContextLimit)
    }
    ProcessedDoc(
      DocumentRow(documentId, doc.sourcePath,
        Map("source" -> doc.sourcePath), ingestedAt),
      built.concepts, built.fragments, parents)
  }

  /** Distributed ingest: one narrow pass, no shuffle. Cache the result if
    * deriving more than one entity table from it.
    */
  def process(docs: Dataset[DocInput],
      parentContextLimit: Int = ParentSynthesis.DefaultContextLimit): Dataset[ProcessedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.mapPartitions(_.map(processDocument(_, parentContextLimit)))
  }

  def documents(processed: Dataset[ProcessedDoc]): Dataset[DocumentRow] = {
    val spark = processed.sparkSession
    import spark.implicits._
    processed.map(_.document)
  }

  def concepts(processed: Dataset[ProcessedDoc]): Dataset[ConceptRow] = {
    val spark = processed.sparkSession
    import spark.implicits._
    processed.flatMap(_.concepts)
  }

  def fragments(processed: Dataset[ProcessedDoc]): Dataset[FragmentRow] = {
    val spark = processed.sparkSession
    import spark.implicits._
    processed.flatMap(_.fragments)
  }

  def parents(processed: Dataset[ProcessedDoc]): Dataset[ParentRow] = {
    val spark = processed.sparkSession
    import spark.implicits._
    processed.flatMap(_.parents)
  }

  /** F3 + E1/E3: filter embeddable fragments, embed in char-budget batches
    * inside each partition, dedupe on the deterministic doc_id (A8 —
    * storage/vector_store.py:71-78).
    */
  def embeddings(fragments: Dataset[FragmentRow], embedder: Embedder,
      charBudget: Int = 20000, maxBatchSize: Int = 64): Dataset[EmbeddingRow] = {
    val spark = fragments.sparkSession
    import spark.implicits._
    fragments
      .filter(f => EmbedValidator.isEligible(f.content))
      .mapPartitions { it =>
        Batching.embedBatched(it.map(f => (f, f.content)), embedder,
          charBudget, maxBatchSize).map { case (f, vec) =>
          EmbeddingRow(
            doc_id = EmbeddingIds.docId(f.concept_id, f.view, f.language, f.content),
            fragment_id = f.id,
            parent_id = f.concept_id,
            document_id = f.document_id,
            view = f.view,
            lang = f.language,
            content = f.content,
            vector = vec)
        }
      }
      .dropDuplicates("doc_id")
  }

  /** Idempotent table write. Tables are bucketed into 256 `doc_bucket`
    * partitions (first byte of the md5 document id — uniform by
    * construction) rather than one partition per document: at 100 TB,
    * per-document partitioning would mean millions of tiny files, while 256
    * buckets keep files large. The buckets prune lookups by document id;
    * re-ingest does not use them: `Cli.reingestBatch` reads every bucket
    * of the table, anti-joins out the replaced documents and writes every
    * bucket again through a [[TableSwap]].
    */
  def writeTable(df: DataFrame, path: String,
      key: String = "document_id"): Unit =
    df.withColumn("doc_bucket", substring(col(key), 1, 2))
      .write.mode("overwrite")
      .partitionBy("doc_bucket")
      .parquet(path)

  /** Cascade-replace: drop existing rows of re-ingested documents, keep the
    * rest, append the new rows (CASCADE-001..004 as set algebra). The join
    * is a broadcast anti-join on the (small) incoming document-id set.
    */
  def replaceDocuments(existing: DataFrame, incoming: DataFrame,
      key: String = "document_id"): DataFrame = {
    val ids = incoming.select(key).distinct()
    existing.join(broadcast(ids), Seq(key), "left_anti")
      .unionByName(incoming)
  }

  /** [[replaceDocuments]] applied to the table at `path`, crash-safely:
    * heal a torn earlier swap, read the live table (minus its derived
    * `doc_bucket` column — [[writeTable]] recomputes it), then stage the
    * merged table and swap it in ([[TableSwap]] — a directory being
    * read cannot be overwritten in place).
    */
  def replaceDocumentsAt(path: String, incoming: DataFrame,
      key: String = "document_id"): Unit = {
    TableSwap.recoverSwap(path)
      .foreach(a => System.err.println(s"[replace] $path: $a"))
    val existing = incoming.sparkSession.read.parquet(path).drop("doc_bucket")
    val merged = replaceDocuments(existing, incoming, key)
    TableSwap.swap(path)(staging => writeTable(merged, staging, key))
  }
}
