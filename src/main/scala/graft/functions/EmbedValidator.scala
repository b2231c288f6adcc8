package graft.functions

import java.util.regex.Pattern

import graft.functions.TextUtils.PyStringOps

/** Embedding-eligibility filter (F3).
  *
  * Mirrors embedding/validators.py:16-154: FRAG-LEN-001 minimum length,
  * boilerplate regexes (copyright, page numbers, reference phrases, Korean
  * annotation patterns), the all-identical-lines check, and the short
  * verb+target pure-reference check. The combined regex compiles once per
  * JVM (executor) — the columnar path calls [[isEligible]] from a fold or
  * filter, never re-compiling per row.
  */
object EmbedValidator {

  val MinLength = 10 // FRAG-LEN-001

  private val patterns: Seq[String] = Seq(
    // copyright (validators.py:32-35)
    "^(?i:copyright|COPYRIGHT|저작권)\\s+©?\\s*\\d{4}",
    "^(?i:all\\s+rights\\s+reserved|ALL\\s+RIGHTS\\s+RESERVED|저작권\\s*소유|무단\\s*전재)",
    // page numbers (:38-42)
    "^\\s*(?i:page|PAGE|페이지|쪽)\\s*\\d+\\s*$",
    "^\\s*\\d+\\s*(?i:page|PAGE|페이지|쪽)\\s*$",
    "^\\s*\\d+\\s*$",
    // references (:45-52)
    "^(?i:see|refer\\s+to|reference)\\s+(?i:figure|table|section|chapter|appendix)\\s+\\d+",
    "(그림|표|도표|사진|이미지|그래프|차트|코드)\\s*\\d+\\s*(참조|참고|보기|확인)",
    "(장|절)?\\s*\\d+\\s*(장|절|항)\\s*(참조|참고|보기)",
    "(위|아래|다음|이전)\\s*(장|절)?\\s*(예제|예시|설명|제목|코드|그림|표)\\s*(참조|참고)",
    // Korean-specific (:55-60)
    "^\\s*\\[.*?\\]\\s*$",
    "^(주|참고|(?i:note|tip|warning|caution))\\s*[:]\\s*.{0,20}$",
    "^\\s*(다음|위|아래)\\s*(과|와)?\\s*(같이|같은|처럼)\\s*$",
    "^\\s*\\d+\\.\\s*$")

  private val boilerplateRe: Pattern =
    Pattern.compile("(?mU)" + patterns.mkString("|"))

  private val ReferenceVerbsEn = Seq("see", "refer", "reference")
  private val ReferenceVerbsKo = Seq("참조", "참고", "보기", "확인")
  private val ReferenceTargetsEn = Seq("figure", "table", "section", "chapter", "appendix")
  private val ReferenceTargetsKo = Seq("그림", "표", "도표", "장", "절", "항")

  def isEligible(content: String): Boolean =
    Hashing.lengthCodePoints(content) >= MinLength &&
      !isBoilerplate(content) && !isPureReference(content)

  def isBoilerplate(content: String): Boolean = {
    if (boilerplateRe.matcher(content).find()) return true
    // all-identical-lines check (validators.py:117-124)
    val lines = content.pyStrip.split("\n", -1)
    val unique = lines.iterator.map(_.pyStrip).filter(_.nonEmpty).toSet
    unique.size == 1 && lines.length > 2
  }

  def isPureReference(content: String): Boolean = {
    val stripped = content.pyStrip
    // code-point length: Python len() — an emoji counts 1, not 2
    if (Hashing.lengthCodePoints(stripped) >= 15) return false
    val lower = stripped.toLowerCase
    val en = ReferenceVerbsEn.exists(lower.contains) &&
      ReferenceTargetsEn.exists(lower.contains)
    val ko = ReferenceVerbsKo.exists(stripped.contains) &&
      ReferenceTargetsKo.exists(stripped.contains)
    en || ko
  }
}
