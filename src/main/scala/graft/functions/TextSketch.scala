package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column builders for large-scale text deduplication & fingerprinting —
  * MinHash, SimHash, shingling, rolling fingerprints.
  *
  * Everything here composes Spark built-ins (split / transform / aggregate /
  * md5 / conv), so the expressions stay inside whole-stage codegen — no
  * UDFs, no serialization walls — and every value derives from md5, making
  * results engine-independent (the DuckDB oracles reproduce them exactly).
  *
  * Scale shape: all sketches are per-row map work (narrow); candidate
  * generation joins on small sketch keys (band hashes, simhash buckets)
  * instead of O(n²) pairs — the standard 100 TB dedup recipe:
  * shingle → sketch → bucket-join → verify within bucket.
  */
object TextSketch {

  /** Deterministic 60-bit hash: first 15 hex chars of md5 as a long.
    * Same value as DuckDB `CAST('0x' || substr(md5(s),1,15) AS BIGINT)`.
    */
  def hexInt(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Whitespace tokenization. Explicit character class rather than `\s`:
    * Java's `\s` includes `\x0B` (vertical tab) but RE2's (DuckDB's) does
    * not, so `\s+` silently diverges across engines on documents containing
    * a vertical tab. Both sides split on exactly `[ \t\n\f\r]+`.
    */
  def words(text: Column): Column = split(trim(text), "[ \\t\\n\\f\\r]+")

  /** Word n-gram shingles; empty array when the text has fewer than n words. */
  def shingles(text: Column, n: Int): Column = {
    val w = words(text)
    when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n), i =>
        concat_ws(" ", (0 until n).map(j => get(w, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Character n-gram shingles over the raw string. */
  def charShingles(text: Column, n: Int): Column =
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - (n - 1)), i =>
        substring(text, i, lit(n))))
      .otherwise(array().cast("array<string>"))

  /** One MinHash signature component: min over shingles of
    * hash(seed + "|" + shingle). NULL-free: empty shingle set → Long.Max.
    */
  def minhashComponent(shingleCol: Column, seed: Int): Column =
    coalesce(
      array_min(transform(shingleCol, sh => hexInt(concat(lit(s"$seed|"), sh)))),
      lit(Long.MaxValue))

  /** Full k-component MinHash signature as an array column. */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    array((0 until k).map(minhashComponent(shingleCol, _)): _*)

  /** Kirsch-Mitzenmacher double hashing: ONE md5 per shingle yields two
    * 56-bit values (a, b); hash function i is a + i·b (no overflow: a,b <
    * 2⁵⁶, i ≤ 127 keeps sums < 2⁶³). 8× less hashing than seed-prefixed
    * md5 per component — the difference between 12M and 1.5M digests per
    * 5k docs. Returns array<struct<a,b>>; materialize (cache / write-time
    * column) before deriving components so the md5 pass runs once.
    */
  def kmHashes(shingleCol: Column): Column =
    transform(shingleCol, sh => struct(
      conv(substring(md5(sh), 1, 14), 16, 10).cast("long").as("a"),
      conv(substring(md5(sh), 15, 14), 16, 10).cast("long").as("b")))

  /** MinHash component i from materialized KM hash pairs. */
  def kmComponent(hashesCol: Column, i: Int): Column =
    coalesce(
      array_min(transform(hashesCol, h =>
        h.getField("a") + lit(i.toLong) * h.getField("b"))),
      lit(Long.MaxValue))

  /** LSH band hash over signature components [from, until). */
  def bandHash(sig: Column, from: Int, until: Int): Column =
    md5(concat_ws(",",
      (from until until).map(i => element_at(sig, i + 1).cast("string")): _*))

  /** SimHash over word hashes, `bits` wide: bit j is set when the
    * ±1-weighted sum of word-hash bit j is positive. Integer sums are
    * order-independent → deterministic under any partitioning.
    */
  def simhash(text: Column, bits: Int): Column =
    simhashFromHashes(transform(words(text), w => hexInt(w)), bits)

  /** SimHash from a materialized word-hash array column. Prefer this form
    * in multi-expression plans: each of the `bits` votes re-evaluates its
    * input array, so hash the words ONCE (cached column / write-time
    * table) and derive the bits from the materialized longs.
    */
  def simhashFromHashes(hashes: Column, bits: Int): Column = {
    val bitCols = (0 until bits).map { j =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + (shiftright(h, j).bitwiseAND(lit(1L)) * 2L - 1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Document fingerprint: min rolling hash over character n-grams —
    * a 1-component winnowing sketch for exact-ish containment detection.
    */
  def charFingerprint(text: Column, n: Int): Column =
    coalesce(
      array_min(transform(charShingles(text, n), sh => hexInt(sh))),
      lit(Long.MaxValue))

  /** Jaccard similarity of the distinct-shingle sets of two columns. */
  def jaccard(aShingles: Column, bShingles: Column): Column = {
    val a = array_distinct(aShingles)
    val b = array_distinct(bShingles)
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  // ---- matching DuckDB SQL fragments (oracle generation) ----

  object duck {
    def hexInt(s: String): String =
      s"CAST('0x' || substr(md5($s), 1, 15) AS BIGINT)"

    def words(text: String): String =
      s"regexp_split_to_array(trim($text), '[ \\t\\n\\f\\r]+')"

    /** Word n-gram shingles (1-indexed lists) over a words expression. */
    def shingles(w: String, n: Int): String = {
      val parts = (0 until n).map(j => s"($w)[i+$j]").mkString(" || ' ' || ")
      s"(CASE WHEN len($w) >= $n THEN list_transform(range(1, len($w) - ${n - 2}), i -> $parts) ELSE []::VARCHAR[] END)"
    }

    def minhashComponent(shinglesExpr: String, seed: Int): String =
      s"COALESCE(list_min(list_transform($shinglesExpr, sh -> ${hexInt(s"'$seed|' || sh")})), ${Long.MaxValue})"

    /** KM double-hash pair lists (a, b) from one md5 per shingle. */
    def kmA(shinglesExpr: String): String =
      s"list_transform($shinglesExpr, sh -> CAST('0x' || substr(md5(sh), 1, 14) AS BIGINT))"
    def kmB(shinglesExpr: String): String =
      s"list_transform($shinglesExpr, sh -> CAST('0x' || substr(md5(sh), 15, 14) AS BIGINT))"

    /** MinHash component i over materialized ha/hb list columns. */
    def kmComponent(haCol: String, hbCol: String, i: Int): String =
      s"COALESCE(list_min(list_transform(range(1, len($haCol)+1), j -> $haCol[j] + $i * $hbCol[j])), ${Long.MaxValue})"

    def simhash(wordsExpr: String, bits: Int): String =
      simhashFromHashes(s"list_transform($wordsExpr, w -> ${hexInt("w")})", bits)

    def simhashFromHashes(hashesExpr: String, bits: Int): String =
      (0 until bits).map { j =>
        s"(CASE WHEN list_reduce(list_prepend(0::BIGINT, $hashesExpr), (acc, h) -> acc + (((h >> $j) & 1) * 2 - 1)) > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("(", " + ", ")")

    def charShingles(text: String, n: Int): String =
      s"(CASE WHEN length($text) >= $n THEN list_transform(range(1, length($text) - ${n - 2}), i -> substr($text, i, $n)) ELSE []::VARCHAR[] END)"

    def charFingerprint(text: String, n: Int): String =
      s"COALESCE(list_min(list_transform(${charShingles(text, n)}, sh -> ${hexInt("sh")})), ${Long.MaxValue})"
  }
}
