package graft.ingest

import java.util.regex.Pattern
import scala.collection.mutable.ArrayBuffer

import graft.domain.Model.RawSegment
import graft.functions.{Chunker, TextUtils}
import graft.functions.TextUtils.PyStringOps

/** File-content → RawSegment parsers (S1 plain/OCR text, S2 markdown).
  *
  * One call parses one document's full text — the file is the natural unit
  * of parallelism, so the Spark pipeline runs these inside a narrow
  * `flatMap`/`mapPartitions` with no shuffle (reference:
  * ingestion/parsers/ocr.py:102-159, markdown.py:30-108).
  */
object Parsers {

  /** Plain-text / OCR parse (ocr.py:102-145). `isOcr=true` merges short OCR
    * lines into paragraphs then chunks at 1200/200 before code detection.
    */
  def parseText(documentId: String, raw0: String, isOcr: Boolean = false,
      chunkSize: Int = 1200, chunkOverlap: Int = 200): Seq[RawSegment] = {
    val raw = TextUtils.normalize(raw0)
    if (isOcr) {
      val merged = TextUtils.mergeOcrLines(raw)
      if (merged.pyStrip.isEmpty) return Nil
      val chunks = new Chunker(chunkSize, chunkOverlap).chunk(merged)
      chunks.zipWithIndex.map { case (chunk, i) =>
        if (TextUtils.isCodeBlock(chunk))
          RawSegment(documentId, "code", chunk, TextUtils.guessCodeLang(chunk), i, None)
        else RawSegment(documentId, "text", chunk, None, i, None)
      }
    } else {
      TextUtils.splitParagraph(raw).zipWithIndex.map { case (p, i) =>
        if (TextUtils.isCodeBlock(p))
          RawSegment(documentId, "code", p, TextUtils.guessCodeLang(p), i, None)
        else RawSegment(documentId, "text", p, None, i, None)
      }
    }
  }

  private val MdFence = Pattern.compile("^\\s*```\\s*([A-Za-z0-9_+-]*)\\s*$")
  private val MdImage = Pattern.compile("!\\[([^\\]]*)\\]\\(([^)]+)\\)")

  /** Markdown parse: line state machine over ``` fences; inline images become
    * `image` segments with "alt\nurl" payload (markdown.py:30-108).
    */
  def parseMarkdown(documentId: String, raw0: String): Seq[RawSegment] = {
    // python reads files with universal newlines; match that boundary
    val raw = TextUtils.universalNewlines(raw0)
    val segments = new ArrayBuffer[RawSegment]
    var order = 0
    var inFence = false
    var fenceLang: Option[String] = None
    var fenceBuf = new ArrayBuffer[String]
    val textBuf = new ArrayBuffer[String]

    def flushTextBuf(): Unit = {
      if (textBuf.isEmpty) return
      val text = textBuf.mkString("\n")
      textBuf.clear()
      var pos = 0
      val m = MdImage.matcher(text)
      while (m.find()) {
        val pre = text.substring(pos, m.start())
        if (pre.pyStrip.nonEmpty) {
          val normalized = TextUtils.normalize(pre)
          if (normalized.nonEmpty) {
            segments += RawSegment(documentId, "text", normalized, None, order, None)
            order += 1
          }
        }
        val alt = Option(m.group(1)).getOrElse("").pyStrip
        val url = Option(m.group(2)).getOrElse("").pyStrip
        val payload = (alt + "\n" + url).pyStrip
        segments += RawSegment(documentId, "image", payload, Some("image"), order, None)
        order += 1
        pos = m.end()
      }
      val tail = text.substring(pos)
      if (tail.pyStrip.nonEmpty) {
        val normalized = TextUtils.normalize(tail)
        if (normalized.nonEmpty) {
          segments += RawSegment(documentId, "text", normalized, None, order, None)
          order += 1
        }
      }
    }

    def emitFence(): Unit = {
      val code = fenceBuf.mkString("\n")
      val lang = fenceLang.orElse(
        TextUtils.normLang(TextUtils.guessCodeLang(code).getOrElse("unknown")))
      segments += RawSegment(documentId, "code", code, lang, order, None)
      order += 1
    }

    for (line <- raw.split("\n", -1)) {
      val fm = MdFence.matcher(line)
      if (fm.matches()) {
        if (!inFence) {
          flushTextBuf()
          fenceLang = TextUtils.normLang(Option(fm.group(1)).getOrElse("").pyStrip)
          inFence = true
          fenceBuf = new ArrayBuffer[String]
        } else {
          emitFence()
          inFence = false; fenceLang = None; fenceBuf = new ArrayBuffer[String]
        }
      } else if (inFence) fenceBuf += line
      else textBuf += line
    }
    if (inFence && fenceBuf.nonEmpty) emitFence()
    flushTextBuf()
    segments.toSeq
  }
}
