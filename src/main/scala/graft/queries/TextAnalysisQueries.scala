package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextSketch

/** Text-analysis operators over `documents` — language ID (stopword-vote
  * heuristic), quality scoring (length/punctuation/stopword/diversity
  * ratios), token counting, per-language statistics. All narrow per-row map
  * work + one partial hash-agg; every query carries an exact DuckDB oracle
  * (ratios divide exact integer counts, so doubles match bit-for-bit).
  */
object TextAnalysisQueries {

  type Q = (SparkSession, String) => DataFrame

  // Tiny distinctive stopword lists per language (public common words).
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un"),
    "fr" -> Seq("le", "la", "les", "des", "et", "que", "un", "une"),
    "de" -> Seq("der", "die", "das", "und", "ein", "nicht", "mit", "ist"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  private def words(c: Column): Column = TextSketch.words(c)

  /** Shared materialized token-array stage (doc_id, lang, source, n_chars,
    * w). Without it, project collapsing re-inlines the split() into every
    * consumer expression (x1 evaluates 5 stopword votes + a greatest
    * chain = ~11 splits per row). At scale this is a write-time column;
    * StageCache is its local stand-in (released on session end).
    */
  private[queries] def wordsStage(s: SparkSession, dir: String): DataFrame =
    StageCache.getOrCache(s, s"doc_words:$dir") {
      Tables.spread(s, Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          words(col("text")).as("w"),
          length(col("text")).as("text_len"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[.,;:!?]", "")))
            .as("n_punct"))
    }

  /** Shared materialized per-document token histogram (doc_id, tok, c):
    * ONE tokenFreq pass over the cached token stage, consumed by x13,
    * x16 and x19 (r16, VERDICT r15 task 2 — the r15 explode-removal
    * left each consumer re-deriving the histogram per reference, so
    * x13's two consumers scanned the corpus twice: volume-gate flag
    * rows 5000→10000). Exact integer counts per (doc, distinct token) —
    * partitioning-independent, persisted as a write-time table
    * alongside the BM25 postings.
    */
  private[queries] def tokenHistStage(s: SparkSession, dir: String)
      : DataFrame =
    StageCache.getOrCache(s, s"tok_hist:$dir", bm25Fingerprint(dir)) {
      wordsStage(s, dir)
        .select(col("doc_id"), explode(
          org.apache.spark.sql.graft.SketchExpressions.tokenFreq(col("w")))
          .as("tc"))
        .select(col("doc_id"), col("tc.tok").as("tok"), col("tc.c").as("c"))
    }

  /** Materialize the shared token stage if no consumer has built it yet:
    * overlapped legs (v14/v16/v24) both depend on it, and two concurrent
    * cold jobs over an unmaterialized cached stage each compute its
    * blocks — one corpus scan becomes two (see [[StageCache.contains]]).
    * Warm sessions skip straight through. */
  private[queries] def ensureWordsStage(s: SparkSession, dir: String): Unit =
    if (!StageCache.contains(s, s"doc_words:$dir"))
      wordsStage(s, dir).write.mode("overwrite").format("noop").save()

  /** Count of tokens present in a fixed word list (int — order-free). */
  private def voteCount(w: Column, list: Seq[String]): Column =
    size(array_intersect_count(w, list))

  // array_intersect dedupes; we want occurrence counts → filter.
  private def array_intersect_count(w: Column, list: Seq[String]): Column =
    filter(w, x => x.isin(list.map(lit): _*))

  private def duckVote(w: String, list: Seq[String]): String = {
    val arr = list.map(s => s"'$s'").mkString("[", ", ", "]")
    s"len(list_filter($w, x -> list_contains($arr, x)))"
  }

  // X1 — language ID by stopword vote; argmax with fixed tie-break order.
  // The vote counts materialize as a (tiny) cached stage of plain ints:
  // the argmax chain references every vote ~6× (greatest + 5 whens), and
  // project collapsing would re-run the interpreted array filter for each
  // reference (~30 passes/row) if the votes stayed expressions.
  private val x1LangId: Q = (s, dir) => {
    val voteStage = StageCache.getOrCache(s, s"lang_votes:$dir") {
      wordsStage(s, dir).select(
        col("lang") +: stopwords.map { case (l, list) =>
          voteCount(col("w"), list).as(s"v_$l")
        }: _*)
    }
    val votes = stopwords.map { case (l, _) => l -> col(s"v_$l") }
    // argmax via reverse-folded CASE chain (outermost = first language):
    // first language with the strictly-highest vote wins — same shape as
    // the oracle SQL, and no trivially-true accumulator predicate
    val maxVote = votes.map(_._2).reduce((a, b) => greatest(a, b))
    val guess = votes.reverse.foldLeft(lit("unknown")) { case (acc, (l, v)) =>
      when(v === maxVote && maxVote > 0, lit(l)).otherwise(acc)
    }
    voteStage
      .withColumn("guess", guess)
      .groupBy(col("lang"), col("guess"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("guess"))
  }

  private val x1Sql = {
    val w = duck.wordsExpr
    val votes = stopwords.map { case (l, list) => l -> duckVote(w, list) }
    val maxVote = votes.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
    val guess = votes.reverse.foldLeft("'unknown'") { case (acc, (l, v)) =>
      s"(CASE WHEN $v = $maxVote AND $maxVote > 0 THEN '$l' ELSE $acc END)"
    }
    s"""SELECT lang, $guess AS guess, COUNT(*) AS n_docs
       |FROM documents GROUP BY 1, 2 ORDER BY lang, guess""".stripMargin
  }

  private object duck {
    val wordsExpr: String = TextSketch.duck.words("text")
  }

  // X2 — per-document quality metrics: token count, type-token ratio,
  // stopword ratio, mean token length — the standard pretraining-corpus
  // quality features.
  private val x2Quality: Q = (s, dir) => {
    val w = col("w")
    val nTokens = size(w)
    val nDistinct = size(array_distinct(w))
    val enStop = voteCount(w, stopwords.head._2)
    val sumLen = aggregate(w, lit(0L), (acc, x) => acc + length(x))
    wordsStage(s, dir)
      .select(col("doc_id"),
        nTokens.as("n_tokens"),
        (nDistinct.cast("double") / nTokens.cast("double")).as("ttr"),
        (enStop.cast("double") / nTokens.cast("double")).as("stop_ratio"),
        (sumLen.cast("double") / nTokens.cast("double")).as("mean_token_len"),
        (col("n_punct").cast("double") / col("text_len").cast("double"))
          .as("punct_ratio"))
      .orderBy(col("doc_id"))
  }

  private val x2Sql = {
    val w = duck.wordsExpr
    val en = stopwords.head._2
    s"""SELECT doc_id,
       |  len($w) AS n_tokens,
       |  len(list_distinct($w))::DOUBLE / len($w)::DOUBLE AS ttr,
       |  ${duckVote(w, en)}::DOUBLE / len($w)::DOUBLE AS stop_ratio,
       |  list_reduce(list_prepend(0::BIGINT, list_transform($w, x -> length(x)::BIGINT)), (acc, x) -> acc + x)::DOUBLE / len($w)::DOUBLE AS mean_token_len,
       |  (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE / length(text)::DOUBLE AS punct_ratio
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // X3 — corpus token statistics per language: docs, tokens, avg
  // tokens/doc, distinct-source count. One partial+final hash agg.
  private val x3TokenStats: Q = (s, dir) => {
    wordsStage(s, dir)
      .select(col("lang"), col("source"), size(col("w")).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))
  }

  private val x3Sql = {
    val w = duck.wordsExpr
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  SUM(len($w))::BIGINT AS total_tokens,
       |  SUM(len($w))::DOUBLE / COUNT(*) AS avg_tokens,
       |  COUNT(DISTINCT source) AS n_sources
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  }

  // X4 — sketch-based corpus statistics: HyperLogLog distinct counts and
  // t-digest-style quantiles. THE metrics path at 100 TB (exact
  // countDistinct shuffles every distinct value; HLL merges 1.5 KB
  // sketches). No DuckDB oracle — approximation algorithms differ between
  // engines by design — so the exact twins (x3, a5) carry the correctness
  // gate and this query gets the rows-only check.
  private val x4ApproxStats: Q = (s, dir) => {
    wordsStage(s, dir)
      .select(col("lang"), col("source"), size(col("w")).as("n_tokens"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        approx_count_distinct(col("source")).as("approx_sources"),
        approx_count_distinct(col("n_tokens")).as("approx_distinct_lengths"),
        percentile_approx(col("n_chars"), lit(0.5), lit(1000)).as("p50_chars"),
        percentile_approx(col("n_chars"), lit(0.95), lit(1000)).as("p95_chars"))
      .orderBy(col("lang"))
  }

  // X5 — BPE-ish regex tokenization (the subword-style complement to
  // whitespace tokens in x3): alpha runs, digit runs, and single
  // non-alnum-non-space marks — ASCII-class-only pattern so Java regex and
  // RE2 agree construct-for-construct. Per-language aggregate of subword
  // counts + fertility (subwords per whitespace word — the metric BPE
  // tokenizer quality is judged by).
  private val BpeIshPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]"

  private val x5RegexTokens: Q = (s, dir) =>
    Tables.spread(s, Tables.documents(s, dir))
      .select(col("lang"), size(words(col("text"))).as("n_words"),
        size(regexp_extract_all(col("text"),
          lit(BpeIshPattern), lit(0))).as("n_subtokens"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_subtokens")).cast("long").as("total_subtokens"),
        (sum(col("n_subtokens")).cast("double") /
          sum(col("n_words")).cast("double")).as("fertility"))
      .orderBy(col("lang"))

  private val x5Sql = {
    val w = duck.wordsExpr
    val toks = s"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]')"
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  SUM(len($toks))::BIGINT AS total_subtokens,
       |  SUM(len($toks))::DOUBLE / SUM(len($w))::DOUBLE AS fertility
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  }

  // X6 — character-trigram language ID (the n-gram complement to x1's
  // word-level stopword vote): score = number of text trigrams found in a
  // fixed per-language profile of high-frequency trigrams, argmax with a
  // deterministic tie order. Exact integer counts ⇒ DuckDB oracle. No
  // lower(): Java and DuckDB Unicode case mappings differ on edge cases,
  // and the profiles fire on running lowercase text anyway. Profiles are
  // all LENGTH-3 strings — shingles are 3 chars, so a shorter entry could
  // never match (zh uses common three-character sequences, not single
  // characters, for exactly that reason).
  private[graft] val trigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "ing", "ion", "tio", "ent", "her", " th"),
    "es" -> Seq("que", "ado", "los", "nte", " de", "ien", "cio", " la"),
    "fr" -> Seq("les", "des", "ait", "eur", " le", "ons", "ant", " la"),
    "de" -> Seq("der", "ein", "ich", "den", "und", "sch", "die", "cht"),
    "zh" -> Seq("是一个", "这是一", "不知道", "我们的", "的时候", "有一个", "在这里", "中国的"))

  /** ONE native pass over the text: all five profile counts accumulate in
    * the same code-point window walk
    * ([[org.apache.spark.sql.graft.ProfileShingleCounts]]) — the previous
    * `aggregate()` fold rebuilt a 5-field struct and ran ~40 interpreted
    * `isin` comparisons per trigram (the interpreted-HOF trap the other
    * native sketches exist to avoid; values are pinned identical by
    * SqlFunctionsSpec and the x6 oracle). Package-visible so specs can
    * drive it with real multilingual text (the shipped corpus is ASCII
    * under every label).
    */
  private[graft] def trigramCounts(text: Column): Column =
    org.apache.spark.sql.graft.SketchExpressions
      .profileShingleCounts(text, trigramProfiles.map(_._2), 3)

  /** Argmax over a trigramCounts array with the profile-order tie-break. */
  private[graft] def trigramGuess(c: Column): Column = {
    val scores = trigramProfiles.zipWithIndex.map { case ((l, _), i) =>
      l -> c.getItem(i)
    }
    val maxScore = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // reverse-fold CASE chain (outermost = first profile) — first profile
    // hitting the max wins, same shape as the oracle SQL; folding forward
    // with an `acc === "unknown"` guard would plant a trivially-true
    // 'unknown' = 'unknown' predicate Spark warns about on every run
    scores.reverse.foldLeft(lit("unknown")) { case (acc, (l, v)) =>
      when(v === maxScore && maxScore > 0, lit(l)).otherwise(acc)
    }
  }

  private val x6TrigramLang: Q = (s, dir) => {
    val scoreStage = StageCache.getOrCache(s, s"trigram_scores:$dir") {
      Tables.spread(s, Tables.documents(s, dir))
        .select(col("lang"), trigramCounts(col("text")).as("c"))
    }
    scoreStage
      .withColumn("guess", trigramGuess(col("c")))
      .groupBy(col("lang"), col("guess"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("guess"))
  }

  private val x6Sql = {
    val tri = TextSketch.duck.charShingles("text", 3)
    def score(prof: Seq[String]): String = {
      val arr = prof.map(t => s"'$t'").mkString("[", ", ", "]")
      s"len(list_filter($tri, t -> list_contains($arr, t)))"
    }
    val scores = trigramProfiles.map { case (l, prof) => l -> score(prof) }
    val maxScore = scores.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
    val guess = scores.reverse.foldLeft("'unknown'") { case (acc, (l, v)) =>
      s"(CASE WHEN $v = $maxScore AND $maxScore > 0 THEN '$l' ELSE $acc END)"
    }
    s"""SELECT lang, $guess AS guess, COUNT(*) AS n_docs
       |FROM documents GROUP BY 1, 2 ORDER BY lang, guess""".stripMargin
  }

  // X7 — the quality FILTER decision (the operator a pretraining pipeline
  // actually runs over x2's features): published Gopher-style rules —
  // word-count bounds, mean-word-length band, punctuation ratio, fraction
  // of words containing a letter, minimum stopword evidence. Per-language
  // pass/violation tallies; every violation is an exact integer/double
  // comparison computed identically in DuckDB.
  /** The Gopher-style rule set as 0/1 flag columns over (tokens, punct
    * count, lang). Factored out of x7 so the SAME expressions run over the
    * cached batch stage AND a readStream projection (stateless map —
    * streaming-safe by construction, pinned in
    * StreamBatchEquivalenceSpec).
    */
  private[graft] def qualityFlags(w: Column, nPunct: Column,
      lang: Column): Seq[(String, Column)] = {
    val nWords = size(w)
    val meanWlen = aggregate(w, lit(0L), (acc, x) => acc + length(x))
      .cast("double") / nWords.cast("double")
    val punctRatio = nPunct.cast("double") / nWords.cast("double")
    val alphaFrac = size(filter(w, x => x.rlike("[A-Za-z]")))
      .cast("double") / nWords.cast("double")
    // stopword evidence against the ROW's language list (falling back to
    // en for unlisted languages) — an es/fr/de/zh document must not be
    // graded against English stopwords. zh is unsegmented: whitespace
    // tokens can never EQUAL a single-character stopword, so zh votes by
    // CONTAINMENT (token carries the character) — the same reason the
    // alpha rule below is Latin-script-only.
    def containsVote(list: Seq[String]): Column =
      size(filter(w, x => list.map(c => x.contains(lit(c))).reduce(_ || _)))
    val stopCount = stopwords.tail.foldLeft(voteCount(w, stopwords.head._2)) {
      case (acc, (l, list)) =>
        val vote = if (l == "zh") containsVote(list) else voteCount(w, list)
        when(lang === l, vote).otherwise(acc)
    }
    val latinLangs = Seq("en", "es", "fr", "de")
    val failLen = nWords < 10 || nWords > 100000
    val failWlen = meanWlen < 3.0 || meanWlen > 10.0
    val failPunct = punctRatio >= 0.25
    // Latin-script rule only: zh words legitimately contain no [A-Za-z]
    val failAlpha = lang.isin(latinLangs.map(lit): _*) && alphaFrac <= 0.8
    val failStop = stopCount < 2
    Seq(
      "f_len" -> failLen.cast("int"), "f_wlen" -> failWlen.cast("int"),
      "f_punct" -> failPunct.cast("int"), "f_alpha" -> failAlpha.cast("int"),
      "f_stop" -> failStop.cast("int"),
      "pass" -> (!failLen && !failWlen && !failPunct && !failAlpha && !failStop)
        .cast("int"))
  }

  private val x7QualityFilter: Q = (s, dir) => {
    val flags = qualityFlags(col("w"), col("n_punct"), col("lang"))
    wordsStage(s, dir)
      .select(col("lang") +: flags.map { case (n, c) => c.as(n) }: _*)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("pass")).as("n_pass"),
        sum(col("f_len")).as("n_fail_len"), sum(col("f_wlen")).as("n_fail_wlen"),
        sum(col("f_punct")).as("n_fail_punct"),
        sum(col("f_alpha")).as("n_fail_alpha"),
        sum(col("f_stop")).as("n_fail_stop"))
      .orderBy(col("lang"))
  }

  private val x7Sql = {
    val w = duck.wordsExpr
    val nWords = s"len($w)"
    val meanWlen = s"(list_reduce(list_prepend(0::BIGINT, list_transform($w, x -> length(x)::BIGINT)), (acc, x) -> acc + x)::DOUBLE / $nWords::DOUBLE)"
    val punctRatio = s"((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE / $nWords::DOUBLE)"
    val alphaFrac = s"(len(list_filter($w, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / $nWords::DOUBLE)"
    def duckContainsVote(list: Seq[String]): String = {
      val cond = list.map(c => s"contains(x, '$c')").mkString(" OR ")
      s"len(list_filter($w, x -> ($cond)))"
    }
    val stopCount = stopwords.tail.foldLeft(duckVote(w, stopwords.head._2)) {
      case (acc, (l, list)) =>
        val vote = if (l == "zh") duckContainsVote(list) else duckVote(w, list)
        s"(CASE WHEN lang = '$l' THEN $vote ELSE $acc END)"
    }
    val fLen = s"($nWords < 10 OR $nWords > 100000)"
    val fWlen = s"($meanWlen < 3.0 OR $meanWlen > 10.0)"
    val fPunct = s"($punctRatio >= 0.25)"
    val fAlpha = s"(lang IN ('en','es','fr','de') AND $alphaFrac <= 0.8)"
    val fStop = s"($stopCount < 2)"
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  SUM((NOT $fLen AND NOT $fWlen AND NOT $fPunct AND NOT $fAlpha AND NOT $fStop)::INT)::BIGINT AS n_pass,
       |  SUM($fLen::INT)::BIGINT AS n_fail_len,
       |  SUM($fWlen::INT)::BIGINT AS n_fail_wlen,
       |  SUM($fPunct::INT)::BIGINT AS n_fail_punct,
       |  SUM($fAlpha::INT)::BIGINT AS n_fail_alpha,
       |  SUM($fStop::INT)::BIGINT AS n_fail_stop
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Shared exploded (doc_id, bigram) stage for x8/x9 — adjacent word
    * pairs joined with one space; docs with < 2 words contribute nothing.
    * `sequence(0, size-2)` must be guarded: Spark's sequence DESCENDS when
    * start > stop, so a 1-word doc would yield [0,-1] instead of empty.
    */
  private def bigramStage(s: SparkSession, dir: String): DataFrame =
    StageCache.getOrCache(s, s"doc_bigrams:$dir") {
      wordsStage(s, dir).select(col("doc_id"),
        explode(when(size(col("w")) >= 2,
          expr("transform(sequence(0, size(w)-2), " +
            "i -> concat(element_at(w, i+1), ' ', element_at(w, i+2)))"))
          .otherwise(array())).as("bg"))
    }

  private object duckBg {
    // same construction in DuckDB: generate_series(1, n-1) is empty when
    // n < 2, and list indexing is 1-based on both ends of the pair
    val expr: String = {
      val w = duck.wordsExpr
      s"list_transform(generate_series(1, len($w) - 1), " +
        s"i -> $w[i] || ' ' || $w[i + 1])"
    }
  }

  // X8 — repetition signals (the published Gopher/MassiveText repetition
  // filters): per document, the fraction of word occurrences that are
  // repeats of an earlier word, the share of the single most frequent
  // word, and the share of the most frequent bigram. High values flag
  // boilerplate/spam for removal before training. Plan: explode → one
  // (doc, token) partial hash-agg → one per-doc agg; ratios divide exact
  // BIGINT counts so the doubles match DuckDB bit-for-bit.
  private val x8Repetition: Q = (s, dir) => {
    // r15 optimization: every statistic here is PER DOCUMENT, and each
    // document's tokens live in one row — so the explode → (doc, tok)
    // hash-agg → per-doc agg (twice, words and bigrams) collapses to one
    // native per-row pass ([[org.apache.spark.sql.graft.TokenCounts]]:
    // n, n_distinct, top multiplicity from the array), with the bigram
    // array built inline from `w` exactly as bigramStage builds it. Four
    // corpus-sized Exchanges + a join become a pure map over the cached
    // token stage (guide §2.4); values are pinned identical by
    // TokenCountsSpec and the unchanged DuckDB oracle. The `size(w) > 0 /
    // w IS NOT NULL` filter reproduces explode's row-dropping exactly
    // (Catalyst derived the same filters from the old Generate); bc.n = 0
    // reproduces the old left-join-miss (bigramStage explodes to nothing
    // for single-word docs), so the coalesce(0)/coalesce(1) arithmetic is
    // untouched.
    val bgExpr = when(size(col("w")) >= 2,
      expr("transform(sequence(0, size(w) - 2), " +
        "i -> concat(element_at(w, i+1), ' ', element_at(w, i+2)))"))
      .otherwise(array().cast("array<string>"))
    import org.apache.spark.sql.graft.SketchExpressions.tokenCounts
    wordsStage(s, dir)
      .filter(col("w").isNotNull && size(col("w")) > 0)
      .select(col("doc_id"), tokenCounts(col("w")).as("wc"),
        tokenCounts(bgExpr).as("bc"))
      .select(col("doc_id"),
        col("wc.n").as("n_words"),
        ((col("wc.n") - col("wc.n_distinct")).cast("double") /
          col("wc.n").cast("double")).as("dup_word_frac"),
        (col("wc.top_c").cast("double") / col("wc.n").cast("double"))
          .as("top_word_frac"),
        (when(col("bc.n") > 0, col("bc.top_c")).otherwise(lit(0L))
          .cast("double") /
          when(col("bc.n") > 0, col("bc.n")).otherwise(lit(1L))
            .cast("double")).as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  private val x8Sql = {
    val w = duck.wordsExpr
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($w) AS tok FROM documents),
       |wc AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
       |    COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_c
       |  FROM (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2)
       |  GROUP BY doc_id),
       |bgs AS (
       |  SELECT doc_id, unnest(${duckBg.expr}) AS bg FROM documents),
       |bc AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bg,
       |    CAST(MAX(c) AS BIGINT) AS top_bg_c
       |  FROM (SELECT doc_id, bg, COUNT(*) AS c FROM bgs GROUP BY 1, 2)
       |  GROUP BY doc_id)
       |SELECT wc.doc_id, wc.n_words,
       |  (wc.n_words - wc.n_distinct)::DOUBLE / wc.n_words::DOUBLE AS dup_word_frac,
       |  wc.top_c::DOUBLE / wc.n_words::DOUBLE AS top_word_frac,
       |  COALESCE(bc.top_bg_c, 0)::DOUBLE / COALESCE(bc.n_bg, 1)::DOUBLE AS top_bigram_frac
       |FROM wc LEFT JOIN bc ON wc.doc_id = bc.doc_id
       |ORDER BY wc.doc_id""".stripMargin
  }

  // X9 — corpus-level n-gram census: top-100 bigrams by occurrence count
  // (the standard LM-data diagnostic for boilerplate and contamination).
  // Plan: explode → ONE partial hash-agg shuffle on the bigram →
  // TakeOrderedAndProject for the top-100 (no global sort); at 100 TB the
  // partial (map-side) aggregation bounds the shuffle by the distinct
  // bigram count per partition, not the token count.
  private val x9BigramCounts: Q = (s, dir) =>
    bigramStage(s, dir)
      .groupBy(col("bg")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bg"))
      .limit(100)

  private val x9Sql =
    s"""SELECT bg, COUNT(*) AS n
       |FROM (SELECT unnest(${duckBg.expr}) AS bg FROM documents)
       |GROUP BY bg ORDER BY n DESC, bg LIMIT 100""".stripMargin

  // X10 — benchmark decontamination: flag corpus documents sharing any
  // word n-gram with the "benchmark" set (docs 0..19 stand in for an eval
  // suite; production uses its real benchmark files). The published recipe
  // (GPT-3/PaLM-style) uses 8–13-grams; n=4 here because the synthetic
  // corpus has no verbatim 8-gram overlap, and the operator shape is
  // n-independent. Plan: the benchmark gram set is tiny (eval suites are
  // KBs, corpora are TBs) ⇒ DISTINCT it and broadcast; corpus grams are
  // exploded, deduped per (doc, gram) by a partial-agg shuffle, and hash-
  // joined against the broadcast BEFORE any shuffle — the map-side join
  // discards every non-overlapping gram in place, so the only shuffle in
  // the plan (the per-doc countDistinct) carries the overlap, which is
  // bounded by |benchmark| × |docs sharing a gram|, never corpus-sized.
  // (Deduping corpus grams first would be the same output but would hash-
  // shuffle every gram of every document just to dedup rows the join was
  // about to drop.) Reuses the MinHash shingle builders (parity-pinned by
  // d2).
  private val DecontamN = 4

  private val x10Decontaminate: Q = (s, dir) => {
    // r15 optimization: gram instances dedup PER ROW before anything else
    // ([[org.apache.spark.sql.graft.GramSet]] — one md5 pass + local set,
    // exactly the d9/d12 recipe), so (a) the countDistinct's expand/two-
    // phase dedup becomes a plain count (rows are already unique per
    // (doc, gram): the broadcast join against a distinct bench set
    // preserves uniqueness), and (b) repeated grams never even reach the
    // join probe. Gram keys are the 60-bit md5 prefixes on BOTH sides
    // (the bench set built from the same expression), so membership —
    // and hence every count — is unchanged vs hashing at compare time;
    // the oracle's string-gram formulation agrees because the hash is
    // injective on the corpus exactly as the old hexInt-at-join plan
    // assumed. Bench side stays a tiny cross-doc DISTINCT + broadcast.
    val grams = Tables.spread(s, Tables.documents(s, dir))
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graft.SketchExpressions
          .gramSet(col("text"), DecontamN)).as("g"))
    val bench = grams.filter(col("doc_id") < 20).select(col("g")).distinct()
    grams.filter(col("doc_id") >= 20)
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy(col("doc_id"))
  }

  private val x10Sql = {
    val sh = TextSketch.duck.shingles(TextSketch.duck.words("text"), DecontamN)
    s"""WITH grams AS (SELECT doc_id, unnest($sh) AS g FROM documents),
       |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20),
       |corpus AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id >= 20)
       |SELECT doc_id, COUNT(*) AS n_shared_grams
       |FROM corpus JOIN bench USING (g)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // X13 — corpus-weighted keyword extraction: per-document top-3 terms by
  // tf/df — the corpus-scale twin of the reference's top-5 keyword
  // fallback (X16, generation/query_optimizer.py:173-236: stopword strip
  // + frequency rank), with the document-frequency weighting the
  // single-query version cannot have. Arithmetic stays cross-engine
  // exact: tf and df are exact longs, the score is ONE double division
  // (IEEE-identical in DuckDB — same recipe as w14's probability), and
  // ties break on the term text. Plan: one (doc, term) partial-agg
  // shuffle builds tf; the df census reuses the term key (vocabulary-
  // sized, map-side combined); the join-back is term-keyed; the top-3
  // rank window partitions on doc_id. No stage touches raw text twice.
  private val Stopwords = Seq("a", "the")

  private val x13TfidfTerms: Q = (s, dir) => {
    // r15: term frequencies are PER DOCUMENT and each document's tokens
    // live in one row, so explode → groupBy(doc, term).count collapses to
    // one native per-row histogram pass and the corpus-sized (doc, term)
    // hash-agg Exchange disappears (guide §2.4). r16: the histogram now
    // reads the SHARED materialized [[tokenHistStage]] (one corpus scan,
    // not one per consumer — the r15 shape re-ran the scan+histogram for
    // the df census AND the join probe); filtering the stopword ROWS of
    // the full histogram equals filtering the token ARRAY first — other
    // tokens' counts are unaffected. Rows identical (TokenFreqSpec pins
    // the expression; the oracle pins the query).
    val tf = tokenHistStage(s, dir)
      .filter(!col("tok").isin(Stopwords: _*))
      .select(col("doc_id"), col("tok").as("term"), col("c").as("tf"))
    val dfCensus = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfCensus, "term")
      .withColumn("score",
        col("tf").cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  private val x13Sql = {
    val w = duck.wordsExpr
    val stop = Stopwords.map(t => s"'$t'").mkString(", ")
    s"""WITH tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest($w) AS term FROM documents)
       |  WHERE term NOT IN ($stop)
       |  GROUP BY 1, 2),
       |dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
       |    tf.tf::DOUBLE / dfc.df::DOUBLE AS score,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY tf.tf::DOUBLE / dfc.df::DOUBLE DESC, tf.term) AS rank
       |  FROM tf JOIN dfc USING (term))
       |SELECT doc_id, rank, term, tf, df, score
       |FROM scored WHERE rank <= 3
       |ORDER BY doc_id, rank""".stripMargin
  }

  // X14 — approximate frequent bigrams via the Misra–Gries typed
  // Aggregator ([[graft.functions.FreqSketch]]): the 100 TB path for x9's
  // exact census, whose shuffle carries the full distinct vocabulary. MG
  // keeps ≤ k counters per partial aggregate, so state and shuffle are
  // bounded by k regardless of vocabulary size. The query audits the
  // sketch against the exact census: it reports exactly the items the MG
  // guarantee says MUST surface (true count > n_total/(k+1) — an
  // order-independent set, so the output is deterministic even though
  // individual MG estimates depend on partitioning), their exact counts,
  // the sketch's lower-bound estimate, and whether the bound held.
  // Self-check query (no SQL oracle — the sketch is not SQL-expressible):
  // `bound_ok` must be uniformly true. k is sized so the synthetic
  // corpus's tiny fixed vocabulary (≤ ~1.6k distinct bigrams — uniform
  // by construction, so it HAS no true heavy hitters) fits the counter
  // table and the audit set stays non-empty; eviction and merge
  // subtraction under k ≪ distinct are exercised by the seeded
  // FreqSketchSpec streams instead.
  private val MgK = 2000

  private val x14ApproxTopk: Q = (s, dir) => {
    import s.implicits._
    val bigrams = bigramStage(s, dir)
    val sketch = bigrams.select(col("bg")).as[String]
      .select(graft.functions.FreqSketch.topK(MgK).toColumn)
      .toDF("sketch")
      .select(explode(col("sketch")).as("e"))
      .select(col("e._1").as("bg"), col("e._2").as("est_count"))
    val exact = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("n"))
    val total = bigrams.agg(count(lit(1)).as("n_total"))
    exact.join(broadcast(total))
      .filter(col("n") * (MgK + 1) > col("n_total")) // guaranteed present
      .join(sketch, Seq("bg"), "left")
      .select(col("bg"), col("n"), col("est_count"),
        (col("n_total") / (MgK + 1)).cast("long").as("max_underestimate"),
        (col("est_count").isNotNull &&
          col("est_count") <= col("n") &&
          (col("n") - col("est_count")) * (MgK + 1) <= col("n_total"))
          .as("bound_ok"))
      .orderBy(col("n").desc, col("bg"))
  }

  // X15 — BPE tokenizer induction ([[graft.functions.Bpe]]): learn a
  // merge table from the corpus word-frequency census. The corpus is
  // touched ONCE (the word census); every BPE round then runs on the
  // vocabulary table — a vocab-sized pair census plus a one-row argmax —
  // which is why this is tractable at 100 TB (~10⁸ vocab rows vs ~10¹²
  // corpus tokens). Deterministic by the (count desc, pair asc) argmax
  // tie-break; the distributed ≡ single-node-reference equality is
  // pinned by BpeSpec, so the rows-only driver check is backed by a
  // real oracle in the test suite. Output: the learned merges in order
  // with their selection-time pair counts.
  private val BpeRounds = 24

  private val x15Bpe: Q = (s, dir) => {
    import s.implicits._
    val vocab = wordsStage(s, dir)
      .select(explode(col("w")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
    val merges = graft.functions.Bpe.train(vocab, BpeRounds)
    merges.zipWithIndex.map { case ((m, c), i) =>
      (i + 1, m.left, m.right, m.left + m.right, c)
    }.toDF("rank", "left", "right", "merged", "pair_count")
      .orderBy(col("rank"))
  }

  // X16 — rare-token (out-of-vocabulary) fraction per document: the
  // C4/Gopher-family quality rule "flag documents dominated by words the
  // rest of the corpus never uses" with the dictionary DERIVED from the
  // corpus itself — a token is rare when its corpus frequency is below
  // 0.1% of all tokens (`tf * 1000 < total`, exact integer compare; no
  // static word list to drift). Shape: one token census (shuffle on
  // token, partial-agg'd map-side), then the COMMON set joins back by
  // broadcast and rare = not-matched. Broadcasting the common side is
  // load-bearing at scale: under a Zipf distribution at most ~1000 tokens
  // can each hold ≥0.1% of the corpus (hard bound: ≤1000 by definition),
  // while the rare side is nearly the whole vocabulary (~10⁸ rows at
  // 100 TB) — broadcasting rare would ship gigabytes per executor for the
  // same answer. One per-doc agg finishes; the ratio divides two exact
  // longs, so doubles match the oracle bit-for-bit.
  private val x16RareTokens: Q = (s, dir) => {
    // r15: weighted per-row histogram ([[TokenFreq]], same recipe as
    // x13) instead of three full explodes — the census partial-aggregates
    // over per-doc DISTINCT tokens carrying counts, the broadcast join
    // probes one row per (doc, token) instead of per instance, and the
    // corpus total is sum(size(w)) with no explode at all (explode drops
    // null/empty arrays; size(null) is null and sum skips it — equal).
    // r16: the histogram reads the shared materialized [[tokenHistStage]]
    // (one tokenFreq pass per session, not one per consumer).
    val wtf = tokenHistStage(s, dir)
    val total = wordsStage(s, dir)
      .agg(sum(size(col("w"))).as("__total"))
    val common = wtf.groupBy(col("tok")).agg(sum(col("c")).as("tf"))
      .crossJoin(broadcast(total))
      .filter(col("tf") * lit(1000L) >= col("__total"))
      .select(col("tok"), lit(1L).as("__common"))
    wtf.join(broadcast(common), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("__common").isNull, col("c")).otherwise(0L))
          .as("n_rare"))
      .select(col("doc_id"), col("n_tokens"), col("n_rare"),
        (col("n_rare").cast("double") / col("n_tokens")).as("rare_ratio"))
      .orderBy(col("doc_id"))
  }

  private val x16Sql = {
    val w = duck.wordsExpr
    s"""WITH toks AS (SELECT doc_id, unnest($w) AS tok FROM documents),
       |census AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
       |tot AS (SELECT count(*) AS n FROM toks)
       |SELECT t.doc_id, count(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN c.tf * 1000 < (SELECT n FROM tot) THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       |  CAST(SUM(CASE WHEN c.tf * 1000 < (SELECT n FROM tot) THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS rare_ratio
       |FROM toks t JOIN census c USING (tok)
       |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin
  }

  // X17 — BPE tokenize-and-count: APPLY the x15-trained merge table to
  // the corpus and report per-language token economics (whitespace words
  // vs BPE symbols vs chars; chars-per-token is the tokenizer-efficiency
  // number a training pipeline budgets context length with). The encode
  // is the one place a UDF is the right call — iterative non-overlapping
  // merge application has no Catalyst expression form — and it runs on
  // the per-language VOCABULARY census (vocab-bounded, ~10⁸ rows at
  // 100 TB), never on corpus tokens: each distinct word is encoded once
  // and weighted by its frequency. Training itself never touches the
  // corpus either ([[graft.functions.Bpe]] — vocab-table rounds). All
  // output ints are exact; the ratio divides two exact longs.
  private val x17BpeEncode: Q = (s, dir) => {
    import s.implicits._
    // two consumers (the trainer's corpus-vocab input + the encode pass
    // below) — cache the per-language census once, like lang_votes
    val langVocab = StageCache.getOrCache(s, s"lang_vocab:$dir") {
      wordsStage(s, dir)
        .select(col("lang"), explode(col("w")).as("word"))
        .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("tf"))
    }
    val corpusVocab = langVocab.groupBy(col("word"))
      .agg(sum(col("tf")).as("freq")).as[(String, Long)]
    val merges = graft.functions.Bpe.train(corpusVocab, BpeRounds).map(_._1)
    val encLen = udf((w: String) =>
      graft.functions.Bpe.encode(w, merges).length)
    langVocab.withColumn("n_sym", encLen(col("word")))
      .groupBy(col("lang"))
      .agg(sum(col("tf")).as("n_words"),
        sum(col("tf") * length(col("word"))).as("n_chars"),
        sum(col("tf") * col("n_sym")).as("n_bpe_tokens"))
      .select(col("lang"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        (col("n_chars").cast("double") / col("n_bpe_tokens"))
          .as("chars_per_token"))
      .orderBy(col("lang"))
  }

  // X18 — held-out n-gram LM scoring (the CCNet/KenLM perplexity-filter
  // shape in exact-arithmetic form): train a bigram table on the g1
  // train split (the SAME hash-bucket rule — a pure function of doc_id,
  // so the split can't leak and never moves under re-partitioning), then
  // score each held-out document by its out-of-vocabulary bigram rate
  // and the mean training count of its matched bigrams. Documents full
  // of n-grams the training side never produced are exactly what the
  // perplexity filter flags; keeping every aggregate BIGINT-exact with
  // two final single IEEE divisions makes the score bit-identical to the
  // oracle — which log-domain perplexity can't be across engines (libm
  // log isn't correctly rounded, unlike division). Plan: one
  // vocab-bounded bigram census on the train side, one equi-join on the
  // bigram key for the held-out occurrences, one per-doc agg — no
  // all-pairs anywhere; AQE broadcasts or shuffles the census by size.
  private val x18HeldoutLm: Q = (s, dir) => {
    val bucket =
      pmod(TextSketch.hexInt(col("doc_id").cast("string")), lit(100L))
    val bg = bigramStage(s, dir)
    val trainCounts = bg.where(bucket < 90)
      .groupBy(col("bg")).agg(count(lit(1)).as("cb"))
    bg.where(bucket >= 90)
      .join(trainCounts, Seq("bg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        count(when(col("cb").isNull, lit(1))).as("n_oov"),
        count(col("cb")).as("n_hit"),
        sum(col("cb")).as("sum_cb"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_bigrams").cast("double"))
          .as("oov_rate"),
        when(col("n_hit") === 0, lit(null).cast("double"))
          .otherwise(col("sum_cb").cast("double") /
            col("n_hit").cast("double")).as("avg_hit_cb"))
      .orderBy(col("doc_id"))
  }

  private val x18Sql =
    s"""WITH bgs AS (
       |  SELECT doc_id, unnest(${duckBg.expr}) AS bg,
       |    ${TextSketch.duck.hexInt("CAST(doc_id AS VARCHAR)")} % 100 AS h
       |  FROM documents),
       |tc AS (SELECT bg, COUNT(*) AS cb FROM bgs WHERE h < 90 GROUP BY bg)
       |SELECT b.doc_id, COUNT(*) AS n_bigrams,
       |  COUNT(CASE WHEN tc.cb IS NULL THEN 1 END) AS n_oov,
       |  COUNT(CASE WHEN tc.cb IS NULL THEN 1 END)::DOUBLE / COUNT(*)::DOUBLE AS oov_rate,
       |  CASE WHEN COUNT(tc.cb) = 0 THEN NULL
       |       ELSE CAST(SUM(tc.cb) AS BIGINT)::DOUBLE / COUNT(tc.cb)::DOUBLE END AS avg_hit_cb
       |FROM (SELECT doc_id, bg FROM bgs WHERE h >= 90) b
       |LEFT JOIN tc ON b.bg = tc.bg
       |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin

  // X23 — CCNet-style perplexity bucketing (Wenzek et al. 2020): split
  // each language's corpus into head/middle/tail thirds by how well a
  // background language model predicts the document — the standard
  // pretraining-data curation step (keep head, resample middle, drop
  // tail). The LM is x18's bigram model (counts from the 90% hash
  // split), scored LEAVE-ONE-OUT: each document's bigram tokens count
  // as OOV when the train count MINUS THE DOCUMENT'S OWN CONTRIBUTION
  // is zero. Scoring a train doc against counts that include itself
  // would make its OOV rate identically 0 (every bigram it has, it
  // contributed) and collapse 90% of each language's NTILE order to a
  // doc_id sort; the self-exclusion gives every document a genuine
  // novelty-vs-the-rest score while staying exact-integer arithmetic.
  // The per-document score is that OOV rate — a RATIO OF EXACT
  // INTEGERS (one double division), so unlike a log-prob sum it is
  // order-free and hash-identical across engines. Buckets come from
  // NTILE(3) per language over (oov_rate, doc_id) — a totally-specified
  // order, so the tile boundaries are deterministic; the output pools
  // each bucket with integer sums (+ one division) and order-free
  // min/max, keeping the whole result oracle-exact.
  //
  // Scale shape: rows entering the window are ONE NARROW ROW PER
  // DOCUMENT (doc_id, lang, two ints) — the corpus-sized bigram census
  // collapses map-side before any window. At 100 TB the NTILE becomes
  // the one per-language sort; the production variant computes
  // approx-percentile thresholds on the same scored table and buckets
  // by comparison (no global sort) — this entry keeps the exact form
  // the DuckDB oracle can replay, and the threshold form is a two-line
  // swap (percentile_approx on the same column).
  /** x23/x24's shared scored table: one narrow row per document
    * (doc_id, lang, n_bigrams, n_oov, oov_rate) — the leave-one-out
    * bigram-LM OOV score described on x23. Session-cached: the
    * corpus-sized census join runs once, both bucketing variants read
    * the narrow per-doc rows. */
  private[graft] def x23Scored(s: SparkSession, dir: String): DataFrame =
    StageCache.getOrCache(s, s"x23_scored:$dir")(x23ScoredBuild(s, dir))

  private def x23ScoredBuild(s: SparkSession, dir: String): DataFrame = {
    val bucketH =
      pmod(TextSketch.hexInt(col("doc_id").cast("string")), lit(100L))
    // per-(doc, bigram) token counts first: shrinks the census join
    // input to distinct types per doc AND carries the own-count the
    // leave-one-out subtraction needs
    val docBg = bigramStage(s, dir)
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("own"))
      .withColumn("__h", bucketH)
    val trainCounts = docBg.where(col("__h") < 90)
      .groupBy(col("bg")).agg(sum(col("own")).as("cb"))
    val perDoc = docBg
      .join(trainCounts, Seq("bg"), "left")
      .withColumn("__eff", coalesce(col("cb"), lit(0L)) -
        when(col("__h") < 90, col("own")).otherwise(lit(0L)))
      .groupBy(col("doc_id"))
      .agg(sum(col("own")).as("n_bigrams"),
        sum(when(col("__eff") === 0L, col("own")).otherwise(lit(0L)))
          .as("n_oov"))
    perDoc
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_bigrams").cast("double"))
  }

  private val x23PerplexityBuckets: Q = (s, dir) => {
    val scored = x23Scored(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("oov_rate"), col("doc_id"))
    scored
      .withColumn("bucket", ntile(3).over(w).cast("long"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams_total"),
        (sum(col("n_oov")).cast("double") /
          sum(col("n_bigrams")).cast("double")).as("pooled_oov_rate"),
        min(col("oov_rate")).as("min_oov"),
        max(col("oov_rate")).as("max_oov"))
      .orderBy(col("lang"), col("bucket"))
  }

  private val x23Sql =
    s"""WITH bgs AS (
       |  SELECT doc_id, unnest(${duckBg.expr}) AS bg,
       |    ${TextSketch.duck.hexInt("CAST(doc_id AS VARCHAR)")} % 100 AS h
       |  FROM documents),
       |docbg AS (
       |  SELECT doc_id, bg, h, COUNT(*) AS own
       |  FROM bgs GROUP BY doc_id, bg, h),
       |tc AS (SELECT bg, CAST(SUM(own) AS BIGINT) AS cb
       |       FROM docbg WHERE h < 90 GROUP BY bg),
       |perdoc AS (
       |  SELECT d.doc_id,
       |    CAST(SUM(d.own) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(CASE WHEN COALESCE(tc.cb, 0) -
       |        (CASE WHEN d.h < 90 THEN d.own ELSE 0 END) = 0
       |      THEN d.own ELSE 0 END) AS BIGINT) AS n_oov
       |  FROM docbg d LEFT JOIN tc ON d.bg = tc.bg
       |  GROUP BY d.doc_id),
       |scored AS (
       |  SELECT d.lang, p.doc_id, p.n_bigrams, p.n_oov,
       |    p.n_oov::DOUBLE / p.n_bigrams::DOUBLE AS oov_rate
       |  FROM perdoc p JOIN documents d ON p.doc_id = d.doc_id),
       |bucketed AS (
       |  SELECT lang, n_bigrams, n_oov, oov_rate,
       |    CAST(NTILE(3) OVER (PARTITION BY lang
       |      ORDER BY oov_rate, doc_id) AS BIGINT) AS bucket
       |  FROM scored)
       |SELECT lang, bucket, COUNT(*) AS n_docs,
       |  CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams_total,
       |  CAST(SUM(n_oov) AS BIGINT)::DOUBLE /
       |    CAST(SUM(n_bigrams) AS BIGINT)::DOUBLE AS pooled_oov_rate,
       |  MIN(oov_rate) AS min_oov, MAX(oov_rate) AS max_oov
       |FROM bucketed GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin

  // X24 — x23's PRODUCTION threshold variant (VERDICT r13 task 7): the
  // head/middle/tail boundaries come from percentile_approx(1/3, 2/3)
  // per language and documents bucket by COMPARISON against them — no
  // per-language global sort anywhere in the plan (PlanShapeSpec pins
  // it window-free), which is what survives 100 TB: thresholds are a
  // partial-aggregable sketch over the same one-narrow-row-per-doc
  // scored table, broadcast back as an L-row table. At Verify scale
  // the sketch is EXACT (N per language ≪ accuracy=10⁴ means the GK
  // summary never compresses, so the query returns the true rank
  // element deterministically — safe to golden-pin); at scale the rank
  // error is ≤ N/accuracy by the sketch's bound. No SQL oracle
  // (percentile_approx's rank convention is engine-specific); the
  // checks.json self-predicate verifies the DEFINING property —
  // buckets are threshold-separated and count back to the corpus —
  // and PerplexityBucketsSpec bounds the drift vs x23's exact NTILE
  // thirds by sketch error + boundary-tie mass.
  private val X24Accuracy = 10000
  private val x24PerplexityThresholds: Q = (s, dir) => {
    val scored = x23Scored(s, dir)
    val th = scored.groupBy(col("lang"))
      .agg(percentile_approx(col("oov_rate"),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(X24Accuracy)).as("t"),
        count(lit(1)).as("n_lang"))
      .select(col("lang"), element_at(col("t"), 1).as("t1"),
        element_at(col("t"), 2).as("t2"), col("n_lang"))
    scored.join(broadcast(th), Seq("lang"))
      .withColumn("bucket",
        when(col("oov_rate") <= col("t1"), lit(1L))
          .when(col("oov_rate") <= col("t2"), lit(2L))
          .otherwise(lit(3L)))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        first(col("n_lang")).as("n_lang"),
        first(col("t1")).as("t1"), first(col("t2")).as("t2"),
        sum(col("n_bigrams")).as("n_bigrams_total"),
        (sum(col("n_oov")).cast("double") /
          sum(col("n_bigrams")).cast("double")).as("pooled_oov_rate"),
        min(col("oov_rate")).as("min_oov"),
        max(col("oov_rate")).as("max_oov"))
      .orderBy(col("lang"), col("bucket"))
  }

  // X15/X17 oracles — BPE training as a DuckDB recursive CTE (the d7
  // recursive-CTE precedent). Each iteration carries the symbolized
  // vocabulary forward one round: a pair census over the previous round's
  // rows, the argmax via min(struct) with the identical (count desc, left
  // asc, right asc) binary-string tie-break, and the merge applied with a
  // list_reduce that is equivalent to the left-to-right non-overlapping
  // pass (the merged symbol l||r can never equal l while r is non-empty,
  // so the reduce cannot re-merge what the scan wouldn't). Every vocab row
  // at round k carries round k's merge, so the merge table is a DISTINCT
  // over the recursion's output — no LIMIT inside the recursion (DuckDB
  // disallows it).
  private val duckBpeCte = {
    val w = duck.wordsExpr
    s"""vocab AS (
       |  SELECT word, count(*)::BIGINT AS freq
       |  FROM (SELECT unnest($w) AS word FROM documents)
       |  GROUP BY word),
       |bpe(round, word, freq, syms, m_l, m_r, m_c) AS (
       |  SELECT 0, word, freq,
       |    list_transform(range(1, length(word)+1), i -> word[i]),
       |    NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
       |  FROM vocab
       |  UNION ALL
       |  SELECT b.round + 1, b.word, b.freq,
       |    CASE WHEN len(b.syms) < 2 THEN b.syms ELSE
       |      list_reduce(list_transform(b.syms, s -> [s]), (acc, x) ->
       |        CASE WHEN len(acc) > 0 AND acc[len(acc)] = m.best['l'] AND x[1] = m.best['r']
       |             THEN list_append(list_slice(acc, 1, len(acc)-1), m.best['l'] || m.best['r'])
       |             ELSE list_concat(acc, x) END) END,
       |    m.best['l'], m.best['r'], m.best['c']
       |  FROM bpe b CROSS JOIN (
       |    SELECT min(struct_pack(nc := -c, l := l, r := r, c := c)) AS best
       |    FROM (SELECT p.syms[i] AS l, p.syms[i+1] AS r, SUM(p.freq)::BIGINT AS c
       |          FROM bpe p, UNNEST(range(1, len(p.syms))) t(i)
       |          GROUP BY 1, 2)) m
       |  WHERE b.round < $BpeRounds AND m.best['l'] IS NOT NULL)""".stripMargin
  }

  private val x15Sql =
    s"""WITH RECURSIVE $duckBpeCte
       |SELECT DISTINCT round AS rank, m_l AS "left", m_r AS "right",
       |  m_l || m_r AS merged, m_c AS pair_count
       |FROM bpe WHERE round >= 1
       |ORDER BY rank""".stripMargin

  private val x17Sql = {
    val w = duck.wordsExpr
    s"""WITH RECURSIVE $duckBpeCte,
       |merges AS (SELECT DISTINCT round AS rank, m_l, m_r FROM bpe WHERE round >= 1),
       |mlist AS (SELECT COALESCE(list([m_l, m_r] ORDER BY rank), []::VARCHAR[][]) AS ms FROM merges),
       |lang_vocab AS (
       |  SELECT lang, word, count(*)::BIGINT AS tf
       |  FROM (SELECT lang, unnest($w) AS word FROM documents)
       |  GROUP BY lang, word),
       |encoded AS (
       |  SELECT lang, word, tf,
       |    len(list_reduce(
       |      list_prepend(list_transform(range(1, length(word)+1), i -> word[i]),
       |                   (SELECT ms FROM mlist)),
       |      (acc, m) -> CASE WHEN len(acc) < 2 THEN acc ELSE
       |        list_reduce(list_transform(acc, s -> [s]), (a2, x) ->
       |          CASE WHEN len(a2) > 0 AND a2[len(a2)] = m[1] AND x[1] = m[2]
       |               THEN list_append(list_slice(a2, 1, len(a2)-1), m[1] || m[2])
       |               ELSE list_concat(a2, x) END) END
       |    ))::BIGINT AS n_sym
       |  FROM lang_vocab)
       |SELECT lang, SUM(tf)::BIGINT AS n_words,
       |  SUM(tf * length(word))::BIGINT AS n_chars,
       |  SUM(tf * n_sym)::BIGINT AS n_bpe_tokens,
       |  SUM(tf * length(word))::DOUBLE / SUM(tf * n_sym) AS chars_per_token
       |FROM encoded GROUP BY lang ORDER BY lang""".stripMargin
  }

  // X19 — vocabulary growth over corpus order (the Heaps'-law census): 10
  // doc-id deciles, each reporting its token volume, the count of types
  // (distinct tokens) first seen there, and the cumulative vocabulary —
  // the collection diagnostic that tells a crawl pipeline whether new data
  // still grows the vocabulary or only repeats it (a flattening curve =
  // saturation; paired with d12's per-doc novelty). Decile is a pure
  // integer function of (doc_id, max doc_id), so the split is stable under
  // re-partitioning; `doc_id·10 div (max+1) ≤ 9` needs no clamp. Shape:
  // one token-keyed census (min decile, partial-agg'd map-side — the d12
  // argument), a 10-row decile agg, a 10-row join + cumulative window —
  // nothing corpus-sized moves after the census shuffle. All counts exact
  // longs; the rate divides two exact longs once.
  private val x19VocabGrowth: Q = (s, dir) => {
    // r15: per-row token histogram ([[TokenFreq]], the x13/x16 recipe) —
    // the decile census sums per-doc counts instead of counting
    // instances, and the min-decile-per-type census partial-aggregates
    // over per-doc DISTINCT tokens instead of every instance (guide
    // §2.3); one explode pass instead of two. r16: the histogram reads
    // the shared materialized [[tokenHistStage]] (one tokenFreq pass per
    // session, not one per consumer).
    val mx = Tables.documents(s, dir).agg(max(col("doc_id")).as("__mx"))
    val dec = tokenHistStage(s, dir)
      .crossJoin(broadcast(mx))
      .select(col("tok"), col("c"),
        expr("CAST(doc_id * 10 DIV (__mx + 1) AS BIGINT)").as("decile"))
    val perDec = dec.groupBy(col("decile"))
      .agg(sum(col("c")).as("n_tokens"))
    val newTypes = dec.groupBy(col("tok"))
      .agg(min(col("decile")).as("first_decile"))
      .groupBy(col("first_decile")).agg(count(lit(1)).as("n_new_types"))
      .withColumnRenamed("first_decile", "decile")
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDec.join(newTypes, Seq("decile"), "left")
      .select(col("decile"), col("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("cum_vocab", sum(col("n_new_types")).over(w))
      .withColumn("new_type_rate",
        col("n_new_types").cast("double") / col("n_tokens").cast("double"))
      .orderBy(col("decile"))
  }

  private val x19Sql = {
    val w = duck.wordsExpr
    s"""WITH dec AS (
       |  SELECT tok, doc_id * 10 // (m + 1) AS decile
       |  FROM (SELECT doc_id, unnest($w) AS tok FROM documents),
       |       (SELECT max(doc_id) AS m FROM documents)),
       |per_dec AS (SELECT decile, count(*) AS n_tokens FROM dec GROUP BY 1),
       |new_types AS (
       |  SELECT first_decile AS decile, count(*) AS n_new_types
       |  FROM (SELECT tok, min(decile) AS first_decile FROM dec GROUP BY 1)
       |  GROUP BY 1)
       |SELECT d.decile, d.n_tokens,
       |  COALESCE(n.n_new_types, 0)::BIGINT AS n_new_types,
       |  CAST(SUM(COALESCE(n.n_new_types, 0)) OVER (ORDER BY d.decile
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_vocab,
       |  COALESCE(n.n_new_types, 0)::DOUBLE / d.n_tokens::DOUBLE
       |    AS new_type_rate
       |FROM per_dec d LEFT JOIN new_types n USING (decile)
       |ORDER BY d.decile""".stripMargin
  }

  // X20 — PII detection + redaction census (the scrubbing stage every
  // training-data pipeline runs before release; reference analog: the
  // ingest validators gate what text may be embedded at all,
  // validators.py). The synthetic corpus carries no PII, so the query
  // INJECTS it deterministically from doc_id — an email, a NANP phone
  // and a dotted-quad IP, each on its own doc_id residue class — and the
  // oracle re-derives the same injection independently in DuckDB, so a
  // detector that matches nothing (or redacts the wrong spans) cannot
  // hash-match. Patterns are written in the common Java-regex/RE2
  // subset (no lookaround, no backrefs) so both engines compile the
  // SAME automaton; redaction replaces all occurrences in a fixed
  // email→phone→IP order (the placeholders contain no digits, so later
  // passes cannot re-match earlier rewrites). All work is per-row
  // codegen'd regexp map work — at 100 TB this is a narrow scan stage
  // with NO shuffle beyond the presentation sort; counts are exact ints
  // and the redacted text is hash-compared via md5.
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private val ipRe = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  private val x20PiiRedact: Q = (s, dir) => {
    val d = col("doc_id")
    val email = when(d % 2 === 0,
      concat(lit("user"), d, lit("@example"), d % 7, lit(".com")))
    val phone = when(d % 3 === 0,
      concat(lit("+1-555-"), (d % 900) + 100, lit("-"),
        lpad((d % 10000).cast("string"), 4, "0")))
    val ip = when(d % 5 === 0,
      concat(lit("10."), d % 256, lit("."), (d * 7) % 256, lit("."),
        (d * 13) % 256))
    Tables.spread(s, Tables.documents(s, dir))
      .select(d, concat_ws(" ", col("text"), email, phone, ip).as("t"))
      .select(d,
        size(regexp_extract_all(col("t"), lit(emailRe), lit(0)))
          .cast("long").as("n_email"),
        size(regexp_extract_all(col("t"), lit(phoneRe), lit(0)))
          .cast("long").as("n_phone"),
        size(regexp_extract_all(col("t"), lit(ipRe), lit(0)))
          .cast("long").as("n_ip"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("t"), emailRe, "[EMAIL]"),
            phoneRe, "[PHONE]"),
          ipRe, "[IP]").as("r"))
      .select(d, col("n_email"), col("n_phone"), col("n_ip"),
        length(col("r")).cast("long").as("redacted_len"),
        md5(col("r")).as("redacted_md5"))
      .orderBy(d)
  }

  private val x20Sql =
    s"""WITH injected AS (
       |  SELECT doc_id, concat_ws(' ', text,
       |    CASE WHEN doc_id % 2 = 0 THEN 'user' || doc_id || '@example'
       |      || (doc_id % 7) || '.com' END,
       |    CASE WHEN doc_id % 3 = 0 THEN '+1-555-' || (doc_id % 900 + 100)
       |      || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') END,
       |    CASE WHEN doc_id % 5 = 0 THEN '10.' || (doc_id % 256) || '.'
       |      || (doc_id * 7 % 256) || '.' || (doc_id * 13 % 256) END) AS t
       |  FROM documents),
       |red AS (
       |  SELECT doc_id, t,
       |    regexp_replace(regexp_replace(regexp_replace(t,
       |      '$emailRe', '[EMAIL]', 'g'),
       |      '$phoneRe', '[PHONE]', 'g'),
       |      '$ipRe', '[IP]', 'g') AS r
       |  FROM injected)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$emailRe')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(t, '$phoneRe')) AS BIGINT) AS n_phone,
       |  CAST(len(regexp_extract_all(t, '$ipRe')) AS BIGINT) AS n_ip,
       |  CAST(length(r) AS BIGINT) AS redacted_len,
       |  md5(r) AS redacted_md5
       |FROM red
       |ORDER BY doc_id""".stripMargin

  // X21 — distributed quality-classifier training (the fasttext-style
  // filter model CCNet/LLaMA-class pipelines train; replaces the
  // reference's rule gate, validators.py, at scale). The label is a
  // LINEAR TEACHER over true token counts (2·spark + stream + vector >
  // batch + customer), so learnability is known by construction and the
  // trained accuracy measures exactly what feature hashing loses —
  // fasttext's own setting. Training is 5 IRLS/Newton steps over hashed
  // dim-64 count features ([[graft.functions.HashedLogReg.trainNewton]]
  // — r9: replaced the 40-step GD schedule, whose wall time was driver
  // job-scheduling latency × 40; the Newton direction removes the
  // count-feature conditioning, trains 20× faster AND more accurately,
  // 0.9254 vs 0.9162 at sf0.1): margins fold in fixed order, residuals
  // and IRLS weights round onto a 1e-6 grid, Hessian/gradient entries
  // are exact long sums — bit-deterministic under any partitioning,
  // which is what makes the golden pin valid. Not SQL-expressible as
  // one query (iterative driver loop) → golden-pinned; the spec asserts
  // the learning itself (accuracy ≥ the GD schedule ≥ majority+margin).
  private val x21QualityClassifier: Q = (s, dir) => {
    import graft.functions.HashedLogReg
    val dim = 64
    val feats = StageCache.getOrCache(s, s"x21_feats:$dir") {
      // the cached stage is doc-count-sized (one row per doc); tiny
      // iteration jobs over 32 near-empty partitions would be pure
      // scheduling overhead — pack it into few partitions (at real
      // scale, size partitions to the corpus as usual)
      HashedLogReg.hashedFeatures(
        HashedLogReg.teacherDocs(Tables.spread(s, Tables.documents(s, dir))),
        col("doc_id"), col("y"), col("w"), dim)
        .coalesce(4)
    }
    val (wts, bias) = HashedLogReg.trainNewton(feats, dim, iters = 5)
    HashedLogReg.score(feats, wts, bias)
      .orderBy(col("doc_id"))
  }

  // X22 — BM25 keyword retrieval (Okapi, k1=1.2 b=0.75): the lexical
  // half of hybrid RAG retrieval (pgvector deployments pair `<=>` with
  // Postgres FTS exactly this way; the reference's keyword fallback X16
  // is the rule-based stand-in this replaces). One pass computes per-doc
  // tf for each query term plus dl; one 1-row corpus aggregate supplies
  // N, avgdl and per-term df and broadcasts back. Scoring is a per-row
  // expression summing terms in FIXED order: idf = ln((N−df+0.5)/(df+0.5)
  // + 1) over exact integer counts — ln agrees bit-for-bit across the
  // JVM, libm and DuckDB (verified on this corpus's value range), and
  // every other operand is a division of exact longs, so the DuckDB
  // oracle hash-matches the scores. Top-10 plans as
  // TakeOrderedAndProject. The tf columns ARE the write-time
  // posting-list table and the corpus stats row IS a 1-row metadata
  // artifact: `index-sketches` persists both ([[writeTimeStages]]) and
  // x22/v14/v16 read through to them instead of re-tokenizing
  // (StageCachePersistSpec pins byte-identity either way).
  private val bm25Terms = Seq("spark", "stream", "vector", "window", "join")
  private val bm25K1 = 1.2
  private val bm25B = 0.75

  /** Staleness guard for the persisted BM25 tables: corpus footprint +
    * every constant the derivation bakes in (term list, k1/b). */
  private def bm25Fingerprint(dir: String): Option[String] =
    Some(StageCache.sourceFingerprint(Seq(s"$dir/documents.parquet"),
      s"bm25=${bm25Terms.mkString("+")},k1=$bm25K1,b=$bm25B"))

  /** The per-document posting table (doc_id, dl, tf_<term>…): one row
    * per doc with exact integer term frequencies — partitioning-
    * independent, so persistable as a write-time table. */
  private[graft] def bm25PerDoc(s: SparkSession, dir: String): DataFrame =
    StageCache.getOrCache(s, s"bm25_postings:$dir", bm25Fingerprint(dir)) {
      wordsStage(s, dir)
        .select(col("doc_id") +: size(col("w")).cast("long").as("dl") +:
          bm25Terms.map(t =>
            size(filter(col("w"), x => x === t)).cast("long").as(s"tf_$t")): _*)
    }

  /** The 1-row corpus-stats table (n, sum_dl, df_<term>…): exact longs. */
  private[graft] def bm25StatsDf(s: SparkSession, dir: String): DataFrame = {
    val statExprs: Seq[Column] =
      sum(col("dl")).as("sum_dl") +: bm25Terms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    bm25PerDoc(s, dir).agg(count(lit(1)).as("n"), statExprs: _*)
  }

  /** The 1-row corpus-stats record (n, sum_dl, df_<term>…), read through
    * the persisted stats table when `index-sketches` wrote it — shared
    * by [[bm25ScoredAll]] and v24's fusion-gate confidence. */
  // r16: memoized under the source fingerprint — every BM25-scored
  // query path (x22/x25/x26/v14/v16/v24) re-ran the head() job per call;
  // the row is a pure function of corpus + constants (= the
  // fingerprint), so one driver job per corpus serves them all.
  private[queries] def bm25StatsRow(s: SparkSession, dir: String)
      : org.apache.spark.sql.Row = {
    val fp = bm25Fingerprint(dir)
    StageCache.memo(s, s"bm25_stats_row:$dir", fp.get) {
      StageCache.readThroughOrBuild(s, s"bm25_stats:$dir", fp)(
        bm25StatsDf(s, dir)).head()
    }
  }

  /** The BM25 query-term list, in scoring order (v24's confidence fold
    * replays it term-by-term). */
  private[queries] def bm25QueryTerms: Seq[String] = bm25Terms

  /** Full-corpus BM25 scores (doc_id, dl, bm25) — shared by x22's top-10
    * and v14/v16's hybrid fusion. */
  private[queries] def bm25ScoredAll(s: SparkSession, dir: String): DataFrame = {
    val perDoc = bm25PerDoc(s, dir)
    // corpus stats are ONE row of metadata: collect at query-construction
    // time (the d13-style documented deviation) and inject idf/avgdl as
    // literals. Necessity, not convenience: Spark's `log` expression is
    // StrictMath/fdlibm, which differs from libm (= DuckDB's ln) by 1 ulp
    // on some of this corpus's df values — driver-side Math.log IS libm-
    // equal (verified bit-for-bit), so literal idfs are what makes the
    // oracle hash-match. When `index-sketches` has persisted the stats
    // table this head() is a 1-row parquet read, not a corpus aggregate.
    val st = bm25StatsRow(s, dir)
    val n = st.getAs[Long]("n")
    val avgdl = st.getAs[Long]("sum_dl").toDouble / n.toDouble
    val idfs: Seq[Double] = bm25Terms.map { t =>
      val df = st.getAs[Long](s"df_$t").toDouble
      math.log((n.toDouble - df + 0.5) / (df + 0.5) + 1.0)
    }
    val termScores: Seq[Column] = bm25Terms.zip(idfs).map { case (t, idf) =>
      val tf = col(s"tf_$t").cast("double")
      lit(idf) * (tf * lit(bm25K1 + 1)) /
        (tf + lit(bm25K1) *
          (lit(1 - bm25B) + lit(bm25B) * (col("dl").cast("double") / lit(avgdl))))
    }
    perDoc
      .select(col("doc_id"), col("dl"),
        termScores.reduce(_ + _).as("bm25"))
  }

  private val x22Bm25: Q = (s, dir) =>
    bm25ScoredAll(s, dir)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(10)

  /** The BM25 scored-rows SQL (SELECT doc_id, dl, bm25 FROM ...) shared
    * with v14's oracle. */
  private[queries] val bm25ScoredSql: String = {
    val w = duck.wordsExpr
    val tfs = bm25Terms.map(t =>
      s"len(list_filter($w, x -> x = '$t'))::BIGINT AS tf_$t").mkString(",\n       |    ")
    val dfs = bm25Terms.map(t =>
      s"SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END)::BIGINT AS df_$t").mkString(",\n       |    ")
    val scores = bm25Terms.map { t =>
      s"(ln((n::DOUBLE - df_$t::DOUBLE + 0.5) / (df_$t::DOUBLE + 0.5) + 1.0) * " +
        s"(tf_$t::DOUBLE * ${bm25K1 + 1}) / " +
        s"(tf_$t::DOUBLE + $bm25K1 * (${1 - bm25B} + $bm25B * (dl::DOUBLE / avgdl))))"
    }.mkString("\n       |    + ")
    s"""SELECT doc_id, dl,
       |    $scores AS bm25
       |FROM (
       |  SELECT doc_id, dl, n, sum_dl::DOUBLE / n::DOUBLE AS avgdl,
       |    ${bm25Terms.map(t => s"df_$t, tf_$t").mkString(", ")}
       |  FROM (
       |    SELECT doc_id, len($w)::BIGINT AS dl,
       |      $tfs
       |    FROM documents) per_doc
       |  CROSS JOIN (
       |    SELECT COUNT(*)::BIGINT AS n, SUM(dl)::BIGINT AS sum_dl,
       |      $dfs
       |    FROM (SELECT len($w)::BIGINT AS dl,
       |            $tfs
       |          FROM documents) pd2) stats)""".stripMargin
  }

  /** The 1-row corpus-stats SQL (n, sum_dl, df_<term>…) — the DuckDB
    * twin of [[bm25StatsRow]], shared with v24's oracle. */
  private[queries] val bm25StatsSql: String = {
    val w = duck.wordsExpr
    val tfs = bm25Terms.map(t =>
      s"len(list_filter($w, x -> x = '$t'))::BIGINT AS tf_$t")
      .mkString(",\n       |      ")
    val dfs = bm25Terms.map(t =>
      s"SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END)::BIGINT AS df_$t")
      .mkString(",\n       |    ")
    s"""SELECT COUNT(*)::BIGINT AS n, SUM(dl)::BIGINT AS sum_dl,
       |    $dfs
       |  FROM (SELECT len($w)::BIGINT AS dl,
       |      $tfs
       |    FROM documents)""".stripMargin
  }

  private val x22Sql =
    s"""SELECT * FROM ($bm25ScoredSql)
       |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin

  // X25 — BM25 through an INVERTED POSTINGS read (the
  // [[graft.search.LexIndex]] layout x25 shares with `Cli
  // hybrid-search`): one row per (term, doc) with exact tf, partitioned
  // by term_bucket = "b"+md5(term)[0,2). The scoring read touches ONLY
  // the query terms' buckets — ~|q|/256 of the index under partition
  // pruning when `index-sketches` persisted the stage — instead of
  // x22's full-corpus tokenize. Scores are bit-for-bit x22's: the same
  // integer tf/df/dl facts pivot back out of the postings and fold in
  // the same fixed term order with the same literal idfs, so the DuckDB
  // oracle replays the full-scan SQL (restricted to matching docs —
  // postings contain no tf=0 rows, and Okapi's +1 idf form keeps every
  // match strictly positive) and hash-matches.
  /** The inverted postings stage over the SHARED words stage (token-
    * for-token agreement with x22 by construction). Persistable: exact
    * integer counts, partitioning-independent. */
  private[graft] def lexInvertedStage(s: SparkSession, dir: String)
      : DataFrame =
    StageCache.getOrCache(s, s"lex_inverted:$dir", bm25Fingerprint(dir)) {
      graft.search.LexIndex
        .postingsOfTokens(wordsStage(s, dir), "doc_id", "doc_id", "w")
        .select(col("term_bucket"), col("term"), col("doc_id"),
          col("tf"), col("dl"))
    }

  /** The shared body of x25/x26: BM25 top-10 off the bucket-pruned
    * inverted postings, optionally restricted to an eligible doc set
    * BEFORE scoring (filter-before-rank; corpus statistics stay
    * global — the FTS-with-WHERE semantics). */
  private def lexPrunedTop10(s: SparkSession, dir: String,
      eligible: Option[DataFrame]): DataFrame = {
    import graft.search.LexIndex
    val st = bm25StatsRow(s, dir)
    val n = st.getAs[Long]("n")
    val avgdl = st.getAs[Long]("sum_dl").toDouble / n.toDouble
    val idfs: Seq[Double] = bm25Terms.map { t =>
      val df = st.getAs[Long](s"df_$t").toDouble
      math.log((n.toDouble - df + 0.5) / (df + 0.5) + 1.0)
    }
    val buckets = bm25Terms.map(LexIndex.bucketOf).distinct
    val pruned0 = lexInvertedStage(s, dir)
      .filter(col("term_bucket").isin(buckets: _*))
      .filter(col("term").isin(bm25Terms: _*))
    val pruned = eligible.fold(pruned0)(e =>
      pruned0.join(e.select(col("doc_id")), Seq("doc_id"), "left_semi"))
    val tfCols = bm25Terms.map(t =>
      sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"tf_$t"))
    val perDoc = pruned.groupBy(col("doc_id"), col("dl"))
      .agg(tfCols.head, tfCols.tail: _*)
    val termScores: Seq[Column] = bm25Terms.zip(idfs).map { case (t, idf) =>
      val tf = col(s"tf_$t").cast("double")
      lit(idf) * (tf * lit(bm25K1 + 1)) /
        (tf + lit(bm25K1) *
          (lit(1 - bm25B) + lit(bm25B) *
            (col("dl").cast("double") / lit(avgdl))))
    }
    perDoc
      .select(col("doc_id"), col("dl"),
        termScores.reduce(_ + _).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(10)
  }

  private val x25LexPrunedBm25: Q = (s, dir) =>
    lexPrunedTop10(s, dir, eligible = None)

  private val x25Sql =
    s"""SELECT * FROM ($bm25ScoredSql)
       |WHERE bm25 > 0
       |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin

  // X26 — the SCOPED lexical retrieval (F1/F2's metadata predicate
  // applied to the postings path, the shape `Cli hybrid-search --view`
  // serves): candidates restricted to one language's documents by a
  // semi-join BEFORE scoring, corpus statistics global. The oracle
  // replays the restriction as a plain IN-subquery over the full-scan
  // scores — same integer facts, same fold, hash-exact.
  private val x26ScopeLang = "fr"

  private val x26LexScopedBm25: Q = (s, dir) =>
    lexPrunedTop10(s, dir, eligible = Some(
      wordsStage(s, dir).filter(col("lang") === x26ScopeLang)
        .select(col("doc_id"))))

  private val x26Sql =
    s"""SELECT * FROM ($bm25ScoredSql)
       |WHERE bm25 > 0 AND doc_id IN
       |  (SELECT doc_id FROM documents WHERE lang = '$x26ScopeLang')
       |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin

  /** The write-time BM25 tables the x22 scaladoc promises, under their
    * exact StageCache keys — what `index-sketches` persists so
    * x22/v14/v16 score against materialized postings + a 1-row stats
    * artifact instead of re-tokenizing. Both are partitioning-
    * independent row sets (exact integer counts).
    */
  def writeTimeStages(s: SparkSession, dir: String): Map[String, DataFrame] =
    Map(
      s"bm25_postings:$dir" -> bm25PerDoc(s, dir),
      s"bm25_stats:$dir" -> bm25StatsDf(s, dir),
      s"lex_inverted:$dir" -> lexInvertedStage(s, dir),
      // r16: the shared x13/x16/x19 per-doc token histogram — exact
      // integer counts, partitioning-independent
      s"tok_hist:$dir" -> tokenHistStage(s, dir))

  /** Same derivation the read side checks ([[bm25Fingerprint]]). */
  def writeTimeFingerprint(dir: String): Option[String] = bm25Fingerprint(dir)

  val defs: Map[String, Q] = Map(
    "x22_bm25" -> x22Bm25,
    "x25_lex_pruned_bm25" -> x25LexPrunedBm25,
    "x26_lex_scoped_bm25" -> x26LexScopedBm25,
    "x21_quality_classifier" -> x21QualityClassifier,
    "x20_pii_redact" -> x20PiiRedact,
    "x19_vocab_growth" -> x19VocabGrowth,
    "x18_heldout_lm" -> x18HeldoutLm,
    "x23_perplexity_buckets" -> x23PerplexityBuckets,
    "x24_perplexity_thresholds" -> x24PerplexityThresholds,
    "x17_bpe_encode" -> x17BpeEncode,
    "x16_rare_tokens" -> x16RareTokens,
    "x15_bpe_merges" -> x15Bpe,
    "x14_approx_topk" -> x14ApproxTopk,
    "x13_tfidf_terms" -> x13TfidfTerms,
    "x10_decontaminate" -> x10Decontaminate,
    "x8_repetition" -> x8Repetition,
    "x9_bigram_counts" -> x9BigramCounts,
    "x7_quality_filter" -> x7QualityFilter,
    "x1_lang_id" -> x1LangId,
    "x2_quality_score" -> x2Quality,
    "x3_token_stats" -> x3TokenStats,
    "x4_approx_stats" -> x4ApproxStats,
    "x5_regex_tokens" -> x5RegexTokens,
    "x6_trigram_lang" -> x6TrigramLang)

  val oracles: Map[String, String] = Map(
    "x22_bm25" -> x22Sql,
    "x25_lex_pruned_bm25" -> x25Sql,
    "x26_lex_scoped_bm25" -> x26Sql,
    "x20_pii_redact" -> x20Sql,
    "x19_vocab_growth" -> x19Sql,
    "x18_heldout_lm" -> x18Sql,
    "x23_perplexity_buckets" -> x23Sql,
    "x17_bpe_encode" -> x17Sql,
    "x16_rare_tokens" -> x16Sql,
    "x15_bpe_merges" -> x15Sql,
    "x13_tfidf_terms" -> x13Sql,
    "x10_decontaminate" -> x10Sql,
    "x8_repetition" -> x8Sql,
    "x9_bigram_counts" -> x9Sql,
    "x7_quality_filter" -> x7Sql,
    "x1_lang_id" -> x1Sql,
    "x2_quality_score" -> x2Sql,
    "x3_token_stats" -> x3Sql,
    "x5_regex_tokens" -> x5Sql,
    "x6_trigram_lang" -> x6Sql)
}
