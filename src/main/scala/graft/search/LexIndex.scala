package graft.search

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.TableSwap
import graft.queries.StageCache
import graft.sources.TableLayout

/** A term-partitioned inverted postings index for the lexical (BM25)
  * channel of hybrid serving — the write-time artifact that makes
  * `Cli hybrid-search` a PRUNED read instead of a corpus scan.
  *
  * Without it, every hybrid query re-tokenizes the whole fragments
  * table three times (corpus stats, df census, scoring scan): O(corpus)
  * per query, which at 100 TB dwarfs the query itself. The reference
  * sidesteps the problem by delegating lexical retrieval to an LLM
  * keyword stage (retrieval/pipeline.py:155 — the X16 fallback this
  * engine already mirrors rule-based); a Spark-native engine's answer is
  * the classic IR one: an inverted index, laid out for partition
  * pruning.
  *
  * Layout (all under the tables dir, same lifecycle as the ANN
  * indexes):
  *
  *  - `lex_postings/` — one row per (term, fragment): `(term, id,
  *    doc_id, tf, dl)`, partitioned by `term_bucket` = "b" +
  *    md5(term)[0,2) (256 cells; the "b" prefix keeps partition-value
  *    type inference from ever reading an all-digit sample as INT).
  *    A query's terms hit ≤|q| buckets: the scan is partition-pruned to
  *    ~|q|/256 of the index, and rows are sorted by term within each
  *    partition so parquet row-group stats prune further.
  *  - `lex_postings.delta/batch=<k>/` — reingest deltas, applied in
  *    batch order at read time: `del` rows carry the replaced doc_ids
  *    (removal needs no term knowledge — an anti-join on doc_id), `ins`
  *    rows are the new fragments' postings. Lucene-segment shape:
  *    maintenance writes one bounded batch, never rewrites the base;
  *    [[compact]] folds batches back in.
  *  - `lex_stats.txt` — `n sum_dl` (exact longs; avgdl = sum_dl/n is
  *    then bit-identical to the scan path's aggregate) plus the
  *    fragments table's metadata fingerprint. Serving REFUSES a stale
  *    sidecar — a reingest that skipped the lex step must be loud, not
  *    a silent mis-rank (the ivf_q_hash contract). The check is a
  *    file-tree walk, never a data read.
  *
  * What a serve reads: the stats sidecar and its fragments fingerprint
  * (file reads and a tree walk); the lexicon cells of the query terms'
  * buckets plus each unfolded `lex_dict.delta` batch (the df map); the
  * postings cells of the same buckets plus each delta batch (the score,
  * twice on the MaxScore route); `fragments` only under a view/lang
  * scope. Every one of these tables is opened through
  * [[graft.queries.StageCache.table]], once per session and file tree, so
  * a warm serve runs only its pruned scans — no file listing (a job of
  * up to 256 tasks per open of a term_bucket table) and no schema
  * inference.
  *
  * The pruned path is bit-for-bit the scan path: integer tf/df/dl/n
  * facts are identical by construction, and the per-document score sums
  * term contributions in the same fixed query-term order with the same
  * literal-idf expression shape, so the doubles agree exactly
  * (LexIndexSpec pins serve-path equality; x25 oracles the pruned
  * scoring against DuckDB's full-scan replay).
  */
object LexIndex {

  /** Number of term_bucket partition cells (two hex digits). */
  val Buckets = 256

  final case class Stats(n: Long, sumDl: Long, tableFp: String)

  def indexPath(tablesDir: String): String = s"$tablesDir/lex_postings"
  def deltaPath(tablesDir: String): String = s"$tablesDir/lex_postings.delta"
  def statsPath(tablesDir: String): String = s"$tablesDir/lex_stats.txt"

  /** The lexicon: (term, df) partitioned by term_bucket — serving-time
    * document frequencies as an O(|q|)-row read instead of counting a
    * term's postings (a stopword's list is O(corpus); counting it per
    * query couples df latency to corpus size). Rebuilt at [[build]] /
    * [[compact]]; between compactions each delta batch carries its
    * exact per-term df adjustment in `lex_dict.delta/batch=k`. */
  def dictPath(tablesDir: String): String = s"$tablesDir/lex_dict"
  def dictDeltaPath(tablesDir: String): String =
    s"$tablesDir/lex_dict.delta"

  /** The forward (doc-keyed) twin of the postings — (doc_id, id, term)
    * partitioned by doc_bucket — what makes a delta batch's df
    * adjustment DELTA-BOUNDED: the replaced documents' current term
    * rows are a doc-bucket-pruned read here, where the postings layout
    * would need a full scan (doc_id is not its partition key). The
    * docvalues/inverted pair of every production IR engine, at 2×
    * postings storage, paid at write time. */
  def forwardPath(tablesDir: String): String = s"$tablesDir/lex_forward"
  def forwardDeltaPath(tablesDir: String): String =
    s"$tablesDir/lex_forward.delta"

  def exists(tablesDir: String): Boolean =
    Files.isDirectory(Paths.get(indexPath(tablesDir))) &&
      Files.exists(Paths.get(statsPath(tablesDir)))

  /** The partition cell of a term — column form. */
  def bucketCol(term: Column): Column =
    concat(lit("b"), substring(md5(term), 1, 2))

  /** The partition cell of a term — driver form (must equal
    * [[bucketCol]]'s md5 hex exactly; both are lowercase hex of the
    * UTF-8 bytes). */
  def bucketOf(term: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes(StandardCharsets.UTF_8))
    f"b${d(0)}%02x"
  }

  /** Postings rows of a (id, doc_id, text) table: one row per distinct
    * (term, fragment) with its exact tf, the fragment's dl carried
    * denormalized (BM25 needs it next to tf; one long per row). Same
    * tokenizer as calibration/scan ([[graft.functions.TextSketch.words]]).
    */
  def postingsOf(frags: DataFrame, idCol: String = "id",
      docIdCol: String = "document_id", textCol: String = "content")
      : DataFrame =
    postingsOfTokens(frags.select(
      col(idCol).cast("string").as("id"),
      col(docIdCol).cast("string").as("doc_id"),
      graft.functions.TextSketch.words(col(textCol)).as("__w")),
      "id", "doc_id", "__w")

  /** [[postingsOf]] over an already-tokenized table — lets a caller
    * reuse a shared words stage so the postings agree token-for-token
    * with every other consumer of that stage (x25's contract with
    * x22). Id column types pass through unchanged (the catalog's long
    * doc_ids must stay long — a string cast would silently change
    * tie-break ordering). */
  def postingsOfTokens(toks: DataFrame, idCol: String,
      docIdCol: String, tokensCol: String): DataFrame =
    toks
      .select(col(idCol).as("id"), col(docIdCol).as("doc_id"),
        size(col(tokensCol)).cast("long").as("dl"),
        explode(col(tokensCol)).as("term"))
      .groupBy(col("term"), col("id"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("term_bucket", bucketCol(col("term")))

  /** Exact corpus stats of a fragments table — the same two longs the
    * scan path aggregates (n = fragment rows, sum_dl = Σ token counts). */
  def statsOf(frags: DataFrame, textCol: String = "content")
      : (Long, Long) = {
    val r = frags
      .agg(count(lit(1)).as("n"),
        sum(size(graft.functions.TextSketch.words(col(textCol))))
          .cast("long").as("sum_dl"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private def saveStats(tablesDir: String, n: Long, sumDl: Long): Unit =
    Files.write(Paths.get(statsPath(tablesDir)),
      (s"$n $sumDl\n" +
        s"${FusionFloor.tableFingerprint(s"$tablesDir/fragments")}\n")
        .getBytes(StandardCharsets.UTF_8))

  def loadStats(tablesDir: String): Stats = {
    val lines = new String(
      Files.readAllBytes(Paths.get(statsPath(tablesDir))),
      StandardCharsets.UTF_8).linesIterator.toSeq
    val parts = lines.head.trim.split(" ")
    Stats(parts(0).toLong, parts(1).toLong,
      lines.lift(1).map(_.trim).getOrElse(""))
  }

  /** Staleness guard: the stamped fragments fingerprint must match the
    * live table's tree listing. Metadata-only (the fusion-floor
    * contract). */
  def requireFresh(st: Stats, tablesDir: String): Unit =
    require(st.tableFp ==
        FusionFloor.tableFingerprint(s"$tablesDir/fragments"),
      s"lex index at ${indexPath(tablesDir)} is STALE (the fragments " +
        "table was rewritten since the index was built/maintained) — " +
        "re-run lex-index (Cli reingest maintains it automatically)")

  /** Stage-then-swap (or first-build stage-then-move) a derived table. */
  private def swapIn(base: String)(write: String => Unit): Unit = {
    TableSwap.recoverSwap(base)
    if (Files.isDirectory(Paths.get(base))) TableSwap.swap(base)(write)
    else {
      // first build: no live table to roll — stage then move, so a
      // crash mid-write leaves only a .staging that recoverSwap drops
      TableSwap.rmTreeAt(s"$base.staging")
      write(s"$base.staging")
      Files.move(Paths.get(s"$base.staging"), Paths.get(base))
    }
  }

  // --------------------------------------------------------------
  // Epoch stamps: which postings delta batches a dict/forward base
  // already folded in. Serving/maintenance apply only the batches
  // PAST the epoch; any state where the epoch no longer embeds into
  // the live batch set (a torn compaction) valves to the exact slow
  // path instead of double-counting.
  // --------------------------------------------------------------

  private def epochFile(base: String) = s"$base/_epoch.txt"

  private def writeEpoch(base: String, ks: Seq[Int]): Unit =
    Files.write(Paths.get(epochFile(base)),
      (ks.sorted.mkString(" ") + "\n").getBytes(StandardCharsets.UTF_8))

  /** None = missing/unparseable (legacy or torn) — callers valve. */
  private def readEpoch(base: String): Option[Set[Int]] = {
    val p = Paths.get(epochFile(base))
    if (!Files.isRegularFile(p)) None
    else scala.util.Try(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .trim.split("\\s+").filter(_.nonEmpty).map(_.toInt).toSet).toOption
  }

  private def dictOf(postings: DataFrame): DataFrame =
    postings.groupBy(col("term"), col("term_bucket"))
      .agg(count(lit(1)).as("df"))

  private def forwardOf(postings: DataFrame): DataFrame =
    postings.select(col("doc_id"), col("id"), col("term"),
      concat(lit("b"), substring(md5(col("doc_id")), 1, 2))
        .as("doc_bucket"))

  private def writeDict(spark: SparkSession, tablesDir: String,
      postings: DataFrame, epoch: Seq[Int]): Unit = {
    swapIn(dictPath(tablesDir)) { staging =>
      TableLayout.writePartitionedSorted(dictOf(postings), staging,
        "term_bucket", Seq("term"))
      writeEpoch(staging, epoch)
    }
  }

  private def writeForward(spark: SparkSession, tablesDir: String,
      postings: DataFrame, epoch: Seq[Int]): Unit = {
    swapIn(forwardPath(tablesDir)) { staging =>
      TableLayout.writePartitionedSorted(forwardOf(postings), staging,
        "doc_bucket", Seq("doc_id", "id", "term"))
      writeEpoch(staging, epoch)
    }
  }

  private def writePostings(postings: DataFrame, staging: String): Unit =
    TableLayout.writePartitionedSorted(postings, staging, "term_bucket",
      Seq("term", "id"))

  /** Full build from the live fragments table: stage-then-swap the base
    * postings (partitioned by term_bucket, term-sorted within each
    * partition for row-group pruning), the lexicon and the forward
    * sidecar (epoch ∅), drop any deltas (they described the OLD base),
    * stats sidecar LAST so a crash anywhere before it leaves a
    * loudly-stale index, never a silently-wrong one. The lexicon and
    * the forward sidecar derive from the postings held persisted here:
    * reopening the base just written would cost a listing job, a schema
    * inference and a scan. */
  def build(spark: SparkSession, tablesDir: String): Stats = {
    val frags = spark.read.parquet(s"$tablesDir/fragments")
    val postings = postingsOf(frags).persist()
    try {
      swapIn(indexPath(tablesDir))(writePostings(postings, _))
      writeForward(spark, tablesDir, postings, Nil)
      writeDict(spark, tablesDir, postings, Nil)
    } finally { postings.unpersist(); () }
    TableSwap.rmTreeAt(deltaPath(tablesDir))
    TableSwap.rmTreeAt(dictDeltaPath(tablesDir))
    TableSwap.rmTreeAt(forwardDeltaPath(tablesDir))
    val (n, sumDl) = statsOf(frags)
    saveStats(tablesDir, n, sumDl)
    loadStats(tablesDir)
  }

  private def allBatchDirsAt(root: String): Seq[(Int, java.io.File)] = {
    val r = new java.io.File(root)
    Option(r.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(f => f.getName.stripPrefix("batch=").toInt -> f)
      .sortBy(_._1)
  }

  private def allBatchDirs(tablesDir: String): Seq[(Int, java.io.File)] =
    allBatchDirsAt(deltaPath(tablesDir))

  // only committed batches participate in reads — a torn delta write
  // has no _SUCCESS and is invisible (and the sidecar it never
  // restamped keeps serving hard-erroring until maintenance reruns)
  private def committedAt(root: String): Seq[(Int, String)] =
    allBatchDirsAt(root).collect {
      case (k, f) if new java.io.File(f, "_SUCCESS").isFile =>
        k -> f.getPath
    }

  private def batchDirs(tablesDir: String): Seq[(Int, String)] =
    committedAt(deltaPath(tablesDir))

  /** One reingest maintenance step: append a delta batch (del rows for
    * the replaced documents, ins postings for their new fragments) plus
    * its lexicon df adjustment and forward ins rows, then restamp the
    * stats sidecar from the live (post-swap) fragments table. The base
    * never rewrites. Crash order: dict delta, forward delta, postings
    * batch (each committing via its own _SUCCESS), sidecar last — a
    * tear anywhere degrades to the staleness hard error, and a dict/
    * forward batch whose postings batch never committed is an orphan
    * the pairing rule ignores forever (k numbering never reuses it). */
  def appendDelta(spark: SparkSession, tablesDir: String,
      replacedDocIds: Seq[String], newFrags: DataFrame): Int = {
    import spark.implicits._
    // number past EVERY batch dir of every delta root, committed or
    // torn — a crashed write left an uncommitted (read-invisible)
    // batch=k that must not block the retry's errorifexists; the dead
    // dir is swept at compaction
    val k = (allBatchDirs(tablesDir) ++
      allBatchDirsAt(dictDeltaPath(tablesDir)) ++
      allBatchDirsAt(forwardDeltaPath(tablesDir)))
      .map(_._1).maxOption.map(_ + 1).getOrElse(0)
    val insPost = postingsOf(newFrags)
    // exact df adjustment: + new fragments' term counts, − the replaced
    // documents' CURRENT term counts (delta-bounded via the forward
    // sidecar; exact-fallback when it is torn/legacy)
    val insDf = dictOf(insPost)
      .select(col("term"), col("term_bucket"), col("df").as("ins"))
    val delDf = delDfOf(spark, tablesDir, replacedDocIds)
      .select(col("term"), col("term_bucket"), col("df").as("del"))
    insDf.join(delDf, Seq("term", "term_bucket"), "full_outer")
      .select(col("term"), col("term_bucket"),
        (coalesce(col("ins"), lit(0L)) - coalesce(col("del"), lit(0L)))
          .as("ddf"))
      .filter(col("ddf") =!= 0L)
      .repartition(1)
      .write.mode("errorifexists")
      .parquet(s"${dictDeltaPath(tablesDir)}/batch=$k")
    forwardOf(insPost)
      .repartition(col("doc_bucket"))
      .sortWithinPartitions("doc_id", "id", "term")
      .write.mode("errorifexists")
      .parquet(s"${forwardDeltaPath(tablesDir)}/batch=$k")
    val ins = insPost.withColumn("op", lit("ins"))
    val del = replacedDocIds.toDF("doc_id")
      .select(lit(null).cast("string").as("term"),
        lit(null).cast("string").as("id"), col("doc_id"),
        lit(null).cast("long").as("dl"), lit(null).cast("long").as("tf"),
        lit("_del").as("term_bucket"), lit("del").as("op"))
    ins.unionByName(del)
      // bucket-grouped, term-sorted files: bounded file count per batch
      // and row-group stats that prune delta reads the way the base's do
      .repartition(col("term_bucket"))
      .sortWithinPartitions("term", "id")
      .write.mode("errorifexists")
      .parquet(s"${deltaPath(tablesDir)}/batch=$k")
    val (n, sumDl) = statsOf(StageCache.table(spark, s"$tablesDir/fragments"))
    saveStats(tablesDir, n, sumDl)
    k
  }

  /** `(term, term_bucket, df)` of the replaced documents' CURRENT
    * postings — what the delta's del marker is about to remove. Healthy
    * forward sidecar: a doc-bucket-pruned read of ≤|docs| buckets plus
    * the unfolded batches, never the corpus. Torn/legacy forward: the
    * exact (postings-wide) count — correctness never depends on the
    * sidecar, only delta-boundedness does. */
  private def delDfOf(spark: SparkSession, tablesDir: String,
      docIds: Seq[String]): DataFrame = {
    import spark.implicits._
    if (docIds.isEmpty)
      return spark.emptyDataset[(String, String, Long)]
        .toDF("term", "term_bucket", "df")
    val restricted: Option[DataFrame] =
      forwardUnfolded(tablesDir).map { unfolded =>
        val buckets = docIds.map(bucketOf).distinct
        var cur = StageCache.table(spark, forwardPath(tablesDir))
          .filter(col("doc_bucket").isin(buckets: _*))
          .filter(col("doc_id").isin(docIds: _*))
          .select(col("doc_id"), col("id"), col("term"))
        unfolded.foreach { case (k, fwdDir) =>
          val dels = StageCache
            .table(spark, batchDirs(tablesDir).toMap.apply(k))
            .filter(col("op") === "del").select(col("doc_id"))
          val insB = StageCache.table(spark, fwdDir)
            .filter(col("doc_bucket").isin(buckets: _*))
            .filter(col("doc_id").isin(docIds: _*))
            .select(col("doc_id"), col("id"), col("term"))
          cur = cur.join(broadcast(dels), Seq("doc_id"), "left_anti")
            .unionByName(insB)
        }
        cur
      }
    restricted
      .getOrElse(prunedPostings(spark, tablesDir, Nil)
        .filter(col("doc_id").isin(docIds: _*))
        .select(col("doc_id"), col("id"), col("term")))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("term_bucket", bucketCol(col("term")))
  }

  /** The committed forward delta batches PAST the forward base's epoch,
    * in order — or None when the forward state cannot serve (missing
    * dir, unparseable epoch, epoch not embedded in the live batch set,
    * or a live batch without its forward twin). */
  private def forwardUnfolded(tablesDir: String)
      : Option[Seq[(Int, String)]] =
    unfoldedAgainst(tablesDir, forwardPath(tablesDir),
      forwardDeltaPath(tablesDir))

  private def dictUnfolded(tablesDir: String): Option[Seq[(Int, String)]] =
    unfoldedAgainst(tablesDir, dictPath(tablesDir),
      dictDeltaPath(tablesDir))

  private def unfoldedAgainst(tablesDir: String, basePath: String,
      deltaRoot: String): Option[Seq[(Int, String)]] = {
    if (!Files.isDirectory(Paths.get(basePath))) return None
    readEpoch(basePath).flatMap { epoch =>
      val live = batchDirs(tablesDir).map(_._1)
      if (!epoch.subsetOf(live.toSet)) None
      else {
        val needed = live.filterNot(epoch)
        val have = committedAt(deltaRoot).toMap
        if (needed.forall(have.contains))
          Some(needed.sorted.map(k => k -> have(k)))
        else None
      }
    }
  }

  /** The merged postings restricted to `qTerms`: base pruned to the
    * terms' partition cells (PartitionFilters — ~|q|/256 of the index
    * reads), then each committed delta batch applied in order (del =
    * broadcast anti-join on doc_id, ins = pruned union). With no terms
    * given, no term pruning (compaction's full merge). */
  def prunedPostings(spark: SparkSession, tablesDir: String,
      qTerms: Seq[String]): DataFrame = {
    def prune(df: DataFrame): DataFrame =
      if (qTerms.isEmpty) df
      else df
        .filter(col("term_bucket").isin(qTerms.map(bucketOf).distinct: _*))
        .filter(col("term").isin(qTerms: _*))
    val cols = Seq("term", "id", "doc_id", "dl", "tf", "term_bucket")
      .map(col)
    var cur = prune(StageCache.table(spark, indexPath(tablesDir)))
      .select(cols: _*)
    batchDirs(tablesDir).foreach { case (_, dir) =>
      val b = StageCache.table(spark, dir)
      val dels = b.filter(col("op") === "del").select(col("doc_id"))
      val ins = prune(b.filter(col("op") === "ins")).select(cols: _*)
      cur = cur.join(broadcast(dels), Seq("doc_id"), "left_anti")
        .unionByName(ins)
    }
    cur
  }

  /** Fold every delta batch into the base and drop them. Idempotent
    * against any crash point: re-applying a batch over an already-
    * compacted base anti-joins away exactly the rows its own ins set
    * re-adds, so recovery is just "run compact again". The lexicon and
    * forward sidecars fold FIRST, epoch-stamped with the batch set they
    * absorbed — at every crash point the epoch either tells readers
    * which live batches are still unfolded, or fails to embed in the
    * live set and the readers valve to the exact slow path (never a
    * double count). Epochs reset to ∅ last, once the batches are gone. */
  def compact(spark: SparkSession, tablesDir: String): Int = {
    val batches = batchDirs(tablesDir)
    if (batches.isEmpty) { ensureSidecars(spark, tablesDir); return 0 }
    val merged = prunedPostings(spark, tablesDir, Nil)
    val ks = batches.map(_._1)
    writeForward(spark, tablesDir, merged, ks)
    writeDict(spark, tablesDir, merged, ks)
    swapIn(indexPath(tablesDir))(writePostings(merged, _))
    batches.foreach { case (_, dir) => TableSwap.rmTreeAt(dir) }
    TableSwap.rmTreeAt(deltaPath(tablesDir))
    TableSwap.rmTreeAt(dictDeltaPath(tablesDir))
    TableSwap.rmTreeAt(forwardDeltaPath(tablesDir))
    writeEpoch(dictPath(tablesDir), Nil)
    writeEpoch(forwardPath(tablesDir), Nil)
    batches.size
  }

  /** Rebuild the lexicon + forward sidecars over the current merged
    * view whenever either cannot serve (pre-lexicon index, torn
    * compaction) — the self-heal that upgrades/repairs without touching
    * the postings. Returns true if a rebuild ran. */
  def ensureSidecars(spark: SparkSession, tablesDir: String): Boolean = {
    if (dictUnfolded(tablesDir).isDefined &&
      forwardUnfolded(tablesDir).isDefined) return false
    val merged = prunedPostings(spark, tablesDir, Nil)
    val ks = batchDirs(tablesDir).map(_._1)
    writeForward(spark, tablesDir, merged, ks)
    writeDict(spark, tablesDir, merged, ks)
    true
  }

  /** Delta-batch count past which maintenance folds the segments back
    * into the base: each batch adds one anti-join to every serve plan,
    * so an unbounded tail would make reads degrade linearly with
    * maintenance history (the LSM compaction argument). */
  val MaxBatches = 8

  /** [[compact]] iff the committed batch count exceeds `maxBatches` —
    * the reingest step's self-limiting call (which also self-heals the
    * serving sidecars on the quiet path). Returns folded count (0 =
    * left alone). */
  def maybeCompact(spark: SparkSession, tablesDir: String,
      maxBatches: Int = MaxBatches): Int =
    if (batchDirs(tablesDir).size > maxBatches) compact(spark, tablesDir)
    else { ensureSidecars(spark, tablesDir); 0 }

  /** Document frequencies of `qTerms`: ≤|q| rows back to the driver.
    * With a healthy lexicon the read is O(|q| + batches) ROWS — dict
    * base pruned to the terms' buckets plus each unfolded batch's df
    * adjustments — independent of how long the terms' postings are
    * (counting a stopword's postings per query would couple df latency
    * to corpus size). Torn/legacy lexicon valves to the exact count
    * over the merged postings; both paths return identical maps
    * (adjustments are exact integers by construction). */
  def dfOf(spark: SparkSession, tablesDir: String, qTerms: Seq[String])
      : Map[String, Long] =
    dfOfPath(spark, tablesDir, qTerms)._1

  /** [[dfOf]] plus which route computed it ("dict" | "count" |
    * "empty") — the spec witness. */
  private[graft] def dfOfPath(spark: SparkSession, tablesDir: String,
      qTerms: Seq[String]): (Map[String, Long], String) = {
    import spark.implicits._
    if (qTerms.isEmpty) return (Map.empty, "empty")
    dictUnfolded(tablesDir) match {
      case Some(unfolded) =>
        val buckets = qTerms.map(bucketOf).distinct
        def pruneTerms(df: DataFrame): DataFrame = df
          .filter(col("term_bucket").isin(buckets: _*))
          .filter(col("term").isin(qTerms: _*))
        val base = pruneTerms(StageCache.table(spark, dictPath(tablesDir)))
          .select(col("term"), col("df"))
        val adj = unfolded.map { case (_, dir) =>
          pruneTerms(StageCache.table(spark, dir))
            .select(col("term"), col("ddf").as("df"))
        }
        val all = adj.foldLeft(base)(_ unionByName _)
          .groupBy(col("term")).agg(sum(col("df")).as("df"))
          .filter(col("df") > 0L)
          .as[(String, Long)].collect().toMap
        (all, "dict")
      case None =>
        (prunedPostings(spark, tablesDir, qTerms)
          .groupBy(col("term")).agg(count(lit(1)).as("df"))
          .as[(String, Long)].collect().toMap, "count")
    }
  }

  /** Serving-time stopword threshold: a query term whose df exceeds
    * this fraction of the corpus is scored through the MaxScore bound
    * instead of a full postings fold — its postings are O(corpus), so
    * folding them per query would couple serve latency back to corpus
    * size (the exact failure the index exists to prevent; surfaced by
    * the hybrid soak's identity query, whose `wfill*` filler terms have
    * df ≈ n). */
  val StopDfFrac = 0.05

  /** Absolute slack added to the MaxScore threshold so floating-point
    * re-association between the rare-only fold and the full fold can
    * never drop a true top-c candidate. The real-arithmetic bound is
    * exact; accumulated rounding across ≤|q| additions of terms each
    * ≤ (k1+1)·ln(n) is < 1e-10 even at n = 10^12, so 1e-6 is ~4 orders
    * of magnitude of margin and only ever ADMITS extra candidates. */
  val BoundSafetyEps = 1e-6

  /** Upper bound of one term's BM25 contribution to any document:
    * tf·(k1+1)/(tf + k1·s) < k1+1 strictly (s ≥ 1−b > 0), so
    * idf·(k1+1) dominates the term at every tf/dl. */
  def ubOf(dfT: Long, n: Long): Double =
    FusionGate.idf(dfT, n) * (FusionGate.K1 + 1)

  /** A query's terms under the calibration whitespace rule, distinct
    * and in first-occurrence order (the fixed order every fold sums
    * in). */
  def queryTerms(query: String): Seq[String] =
    query.trim.split("[ \\t\\n\\f\\r]+").filter(_.nonEmpty).distinct.toSeq

  /** The lexical channel: BM25 top-`c` of `query` over a tables dir, as
    * `(n, df per term, in-corpus terms, hits)` — through the index when
    * built (a stale one is refused), else through the scan route, which
    * is bit-for-bit equal. A view/lang scope restricts the candidates,
    * never the statistics; `fragments` is opened only for a scope or
    * the scan route. */
  def topC(spark: SparkSession, tablesDir: String, query: String, c: Int,
      view: Option[String] = None, lang: Option[String] = None)
      : (Long, Map[String, Long], Seq[String], Seq[(String, Double)]) = {
    val qTerms = queryTerms(query)
    lazy val frags = StageCache.table(spark, s"$tablesDir/fragments")
    val eligible =
      if (view.isEmpty && lang.isEmpty) None
      else Some(Seq(view.map(col("view") === _),
        lang.map(col("language") === _)).flatten
        .foldLeft(frags)((df, p) => df.filter(p))
        .select(col("id").cast("string").as("id")))
    val (n, dfMap, score) =
      if (exists(tablesDir)) {
        val st = loadStats(tablesDir)
        requireFresh(st, tablesDir)
        val avgdl = st.sumDl.toDouble / st.n.toDouble
        val df = dfOf(spark, tablesDir, qTerms)
        (st.n, df, (inC: Seq[String]) =>
          scoreTopC(spark, tablesDir, inC, df, st.n, avgdl, c, eligible))
      } else scanRoute(spark, frags, qTerms, c, eligible)
    val inCorpus = qTerms.filter(t => dfMap.getOrElse(t, 0L) > 0L)
    (n, dfMap, inCorpus, if (inCorpus.isEmpty) Nil else score(inCorpus))
  }

  /** [[topC]] without an index: corpus stats, df census and scoring are
    * passes over the tokenized fragments table. */
  private def scanRoute(spark: SparkSession, frags: DataFrame,
      qTerms: Seq[String], c: Int, eligible: Option[DataFrame])
      : (Long, Map[String, Long], Seq[String] => Seq[(String, Double)]) = {
    import spark.implicits._
    val toks = frags.select(
      col("id").cast("string").as("id"),
      graft.functions.TextSketch.words(col("content")).as("w"))
    val st = toks.agg(count(lit(1)).as("n"),
      sum(size(col("w"))).as("sum_dl")).head()
    val n = st.getLong(0)
    val avgdl = st.getLong(1).toDouble / n.toDouble
    val dfMap: Map[String, Long] = toks
      .select(explode(array_distinct(col("w"))).as("t"))
      .filter(col("t").isin(qTerms: _*))
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap
    val score = (inCorpus: Seq[String]) => {
      val termScores = inCorpus.map { t =>
        bm25Term(FusionGate.idf(dfMap(t), n),
          size(filter(col("w"), x => x === lit(t))).cast("double"),
          size(col("w")).cast("double"), avgdl)
      }
      eligible.fold(toks)(e => toks.join(e, Seq("id"), "left_semi"))
        .select(col("id"), termScores.reduce(_ + _).as("bm25"))
        .filter(col("bm25") > 0d)
        .orderBy(col("bm25").desc, col("id")).limit(c)
        .as[(String, Double)].collect().toSeq
    }
    (n, dfMap, score)
  }

  /** BM25 top-`c` over the pruned postings — bit-for-bit the scan
    * path's scores: per-fragment term contributions pivot out of the
    * postings (`sum(when(term = t, tf) else 0)` is the exact integer
    * the scan path's array filter counts) and fold in the caller's
    * fixed `inCorpus` term order with the same literal-idf expression.
    * Only fragments containing ≥1 query term can appear (score > 0
    * strictly — idf > 0 always holds for Okapi's +1 form).
    *
    * Stopword-bearing queries take a MaxScore-bounded route (Turtle &
    * Flood's upper-bound pruning, the batch shape of Lucene's
    * block-max WAND): terms with df > [[StopDfFrac]]·n contribute at
    * most [[ubOf]] each, so the exact top-c is provably contained in
    * {docs whose RARE-term score exceeds (c-th best rare score) − Σub}
    * — a candidate set the rare postings alone enumerate. Only those
    * candidates' rows are re-read for the full fold (an id-IN predicate
    * over term-sorted row groups), so the per-query work scales with
    * the rare postings + c, not with the stopwords' O(corpus) lists.
    * The candidate recompute runs the IDENTICAL pivot/fold expressions,
    * so returned scores are bit-equal to the full fold's; whenever the
    * bound cannot certify containment (no rare terms, fewer than c
    * rare-scored docs, Σub too large, candidate blow-up) serving VALVES
    * to the full fold — the bounded route is a pure plan optimization,
    * never a semantics change (LexIndexSpec pins path equality).
    */
  def scoreTopC(spark: SparkSession, tablesDir: String,
      inCorpus: Seq[String], dfMap: Map[String, Long], n: Long,
      avgdl: Double, c: Int,
      eligible: Option[DataFrame] = None): Seq[(String, Double)] =
    scoreTopCPath(spark, tablesDir, inCorpus, dfMap, n, avgdl, c,
      eligible)._1

  /** [[scoreTopC]] plus which route served it ("bounded" | "full" |
    * "empty") — the spec/soak witness that the MaxScore path actually
    * engaged. */
  private[graft] def scoreTopCPath(spark: SparkSession, tablesDir: String,
      inCorpus: Seq[String], dfMap: Map[String, Long], n: Long,
      avgdl: Double, c: Int,
      eligible: Option[DataFrame] = None): (Seq[(String, Double)], String) = {
    if (inCorpus.isEmpty) return (Nil, "empty")
    val common = inCorpus.filter(t =>
      dfMap(t).toDouble > StopDfFrac * n.toDouble)
    val rare = inCorpus.filterNot(common.toSet)
    if (common.nonEmpty && rare.nonEmpty)
      boundedTopC(spark, tablesDir, rare, common, inCorpus, dfMap, n,
        avgdl, c, eligible) match {
        case Some(r) => return (r, "bounded")
        case None => ()
      }
    (exactTopC(spark, tablesDir, inCorpus, dfMap, n, avgdl, c, eligible,
      restrictTo = None), "full")
  }

  /** The full pivot/fold — the single source of the served scores (both
    * routes end here; the bounded route passes `restrictTo`). */
  private def exactTopC(spark: SparkSession, tablesDir: String,
      inCorpus: Seq[String], dfMap: Map[String, Long], n: Long,
      avgdl: Double, c: Int, eligible: Option[DataFrame],
      restrictTo: Option[Seq[String]]): Seq[(String, Double)] = {
    import spark.implicits._
    val top = foldPostings(spark, tablesDir, inCorpus, eligible,
      restrictTo, dfMap, n, avgdl, "bm25")
      .orderBy(col("bm25").desc, col("id")).limit(c)
    // Spark rewrites an IN wider than parquet.pushdown.inFilterThreshold
    // into a min/max range (useless over ids spanning the corpus), so
    // the threshold is raised past the candidate cap for this one read
    if (restrictTo.isEmpty) top.as[(String, Double)].collect().toSeq
    else withInThreshold(spark,
      restrictTo.get.size) { top.as[(String, Double)].collect().toSeq }
  }

  private def withInThreshold[A](spark: SparkSession, n: Int)(f: => A)
      : A = {
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    val old = scala.util.Try(spark.conf.get(key)).toOption
    spark.conf.set(key, math.max(n + 1, 1024).toString)
    try f
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** MaxScore candidate certification. Returns None whenever the bound
    * cannot PROVE the candidate set contains the exact top-c — the
    * caller then serves the full fold. Containment argument (real
    * arithmetic; [[BoundSafetyEps]] absorbs fp re-association):
    * every document's total = rare part + common part, and
    * common part < Σ_{t∈common} ub(t) = ubC strictly. The c documents
    * with the highest rare parts each have total ≥ their rare part ≥
    * mC (the c-th best rare part), so the exact c-th best total ≥ mC.
    * A document with rare part r ≤ mC − ubC has total < mC — strictly
    * below c documents — and can never enter the top-c under the
    * (score desc, id asc) order; in particular a document carrying ONLY
    * common terms (r = 0) is excluded whenever mC > ubC. */
  private def boundedTopC(spark: SparkSession, tablesDir: String,
      rare: Seq[String], common: Seq[String], inCorpus: Seq[String],
      dfMap: Map[String, Long], n: Long, avgdl: Double, c: Int,
      eligible: Option[DataFrame]): Option[Seq[(String, Double)]] = {
    import spark.implicits._
    // the cap bounds the recompute's IN list and the driver collect;
    // generous because score TIES are common in real corpora (equal
    // tf/dl) and a tie cohort straddling the threshold must fit or the
    // route valves
    val candCap = math.max(32 * c, 2048)
    // ONE job yields the c-th rare score AND the candidate set: every
    // candidate (rbm25 > thr, thr < mC) outranks the threshold, so all
    // of them sit inside the top-(cap+1) rows; a (cap+1)-th row still
    // above thr means the tie cohort overflows the cap → valve
    val top = foldPostings(spark, tablesDir, rare, eligible, None, dfMap,
      n, avgdl, "rbm25")
      .orderBy(col("rbm25").desc, col("id")).limit(candCap + 1)
      .as[(String, Double)].collect()
    // fewer than c rare-scored docs: common-only docs could fill the
    // tail and the bound says nothing about which — no certification
    if (top.length < c) return None
    val mC = top(c - 1)._2
    val ubC = common.map(t => ubOf(dfMap(t), n)).sum
    if (!(mC > ubC + BoundSafetyEps)) return None
    val thr = mC - ubC - BoundSafetyEps
    if (top.length > candCap && top.last._2 > thr) return None
    val cand = top.iterator.takeWhile(_._2 > thr).map(_._1).toSeq
    Some(exactTopC(spark, tablesDir, inCorpus, dfMap, n, avgdl, c,
      eligible, restrictTo = Some(cand)))
  }

  /** (id, `as`) per fragment holding any of `terms`: each term's tf
    * pivots out of the pruned postings (`sum(when(term = t, tf) else 0)`
    * is the exact integer the scan route's array filter counts) and the
    * [[bm25Term]]s sum in the fixed `terms` order. */
  private def foldPostings(spark: SparkSession, tablesDir: String,
      terms: Seq[String], eligible: Option[DataFrame],
      restrictTo: Option[Seq[String]], dfMap: Map[String, Long], n: Long,
      avgdl: Double, as: String): DataFrame = {
    // metadata scoping is FILTER-BEFORE-RANK (the F1/F2 contract):
    // `eligible` (a one-column "id" set, e.g. fragments of one view)
    // semi-joins into the pruned postings before any score or limit.
    // Corpus statistics (df/n/avgdl) stay GLOBAL — the Postgres
    // FTS-with-WHERE semantics the reference pairs pgvector with: the
    // predicate restricts candidates, not the language model.
    val pruned0 = prunedPostings(spark, tablesDir, terms)
    val pruned1 = eligible.fold(pruned0)(e =>
      pruned0.join(e.select(col("id")), Seq("id"), "left_semi"))
    // candidate restriction (the MaxScore route): an IN predicate the
    // scan pushes into the (term, id)-sorted row groups/pages — a
    // candidate's rows sit in one id run per term, so parquet stats
    // skip the rest
    val postings = restrictTo.fold(pruned1)(ids =>
      pruned1.filter(col("id").isin(ids: _*)))
    val tfCols: Seq[Column] = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"tf_$i")
    }
    val termScores = terms.zipWithIndex.map { case (t, i) =>
      bm25Term(FusionGate.idf(dfMap(t), n), col(s"tf_$i").cast("double"),
        col("dl").cast("double"), avgdl)
    }
    postings.groupBy(col("id"), col("dl")).agg(tfCols.head, tfCols.tail: _*)
      .select(col("id"), termScores.reduce(_ + _).as(as))
  }

  /** One term's BM25 contribution, `tf` and `dl` as double columns —
    * the single expression every route builds, so the literal-idf
    * expression shape (and with it every double) is the same on the
    * postings and the scan route. */
  private def bm25Term(idfT: Double, tf: Column, dl: Column,
      avgdl: Double): Column =
    lit(idfT) * (tf * lit(FusionGate.K1 + 1)) /
      (tf + lit(FusionGate.K1) * (lit(1 - FusionGate.B) +
        lit(FusionGate.B) * (dl / lit(avgdl))))
}
