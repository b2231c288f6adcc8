package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic id generation — the backbone of idempotent re-ingest,
  * dedupe, and oracle comparisons.
  *
  * Semantics match the reference byte-for-byte (UTF-8 → md5 hex):
  *  - content hash / embedding doc_id: shared/hashing.py:10-25,
  *    domain/value_objects.py:35-66
  *  - document id: api/use_cases/ingest.py:149 (md5 of file path)
  *  - concept id:  ingestion/concept_builder.py:93-94 (md5(doc|unit)[:16])
  *  - unit / fragment ids: ingestion/segmentation.py:148-182,
  *    concept_builder.py:130-133, 213-217
  *
  * Each helper is a plain Scala function (used inside per-document folds
  * where rows don't exist yet); the content hash and embedding doc_id
  * also have a `Column` form built from Spark built-ins (`md5`,
  * `concat_ws`) so the columnar path stays inside whole-stage codegen —
  * no UDFs.
  */
object Hashing {

  // ---- plain Scala (must agree exactly with the Column forms) ----

  /** Python's s[:n] slices CODE POINTS; String.take counts UTF-16 units.
    * They differ on supplementary-plane chars (emoji etc.), and a take()
    * that lands mid-surrogate-pair corrupts the UTF-8 encoding. All id
    * derivations that mirror a reference `[:n]` slice go through this.
    */
  def takeCodePoints(s: String, n: Int): String = {
    if (s.length <= n) return s // fast path: ≤ n UTF-16 units ⇒ ≤ n cps
    val cpCount = s.codePointCount(0, s.length)
    if (cpCount <= n) s
    else s.substring(0, s.offsetByCodePoints(0, n))
  }

  /** Python's len() counts CODE POINTS; String.length counts UTF-16 units.
    * All reference-parity character budgets (unitizer buffer, chunk sizes,
    * parent context limit) must count like the reference or a single emoji
    * shifts buffer/chunk boundaries and changes downstream ids.
    */
  def lengthCodePoints(s: String): Int = s.codePointCount(0, s.length)

  def md5Hex(s: String): String = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    val sb = new StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** md5(parent_id|view|lang|content); lang empty-string when absent. */
  def contentHash(parentId: String, view: String, lang: Option[String],
      content: String): String =
    md5Hex(s"$parentId|$view|${lang.getOrElse("")}|$content")

  /** "doc:" + contentHash — the embedding upsert key. */
  def docId(parentId: String, view: String, lang: Option[String],
      content: String): String =
    "doc:" + contentHash(parentId, view, lang, content)

  /** Document id = md5 of its source path (idempotent re-ingest key). */
  def documentId(sourcePath: String): String = md5Hex(sourcePath)

  /** Concept id = md5(documentId + "|" + unitId) truncated to 16 hex chars. */
  def conceptId(documentId: String, unitId: String): String =
    md5Hex(documentId + "|" + unitId).take(16)

  // (code-unit / text-unit id composition lives in graft.ingest.Unitizer —
  // the hash inputs are per-segment slices, not single strings)

  /** Fragment id = concept[:12]-order-md5(content[:200])[:8]
    * (concept_builder.py:130-133).
    */
  def fragmentId(conceptId: String, order: Int, content: String): String =
    s"${conceptId.take(12)}-$order-${md5Hex(takeCodePoints(content, 200)).take(8)}"

  // (the orphan concept id hashes the first-5 orphan content heads, not
  // the document id — derived in graft.ingest.ConceptBuilder where the
  // segment slices live)

  // ---- Column forms (codegen'd built-ins, no UDF) ----

  def contentHashCol(parentId: Column, view: Column, lang: Column,
      content: Column): Column =
    md5(concat_ws("|", parentId, view, coalesce(lang, lit("")), content))

  def docIdCol(parentId: Column, view: Column, lang: Column,
      content: Column): Column =
    concat(lit("doc:"), contentHashCol(parentId, view, lang, content))
}
