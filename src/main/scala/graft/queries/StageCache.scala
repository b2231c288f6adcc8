package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The session memo: every derived value a query reuses lives in ONE
  * map of per-(session, key) slots — cache()'d shared stages (the local
  * stand-in for a write-time table column; d2/d3 share one MinHash pass)
  * and small values that cost a Spark job to derive (the BM25 stats row,
  * a trained quantizer, a temp index directory, an opened serving
  * table and its file listing, a restored serving graph). A bare
  * process-global map would pin executor storage, retain stopped
  * SparkSessions and serve values across sessions for the JVM lifetime;
  * a slot instead:
  *
  *  - holds `(fingerprint, value)`: a call with another fingerprint
  *    disposes of the old value and rebuilds;
  *  - builds under its own lock, so one key is built once however many
  *    threads ask, while builds of different keys nest and overlap;
  *  - is disposed of by [[release]] (called by Verify / Bench / Cli when
  *    done) and once its session's context ends: a `DataFrame` is
  *    unpersisted, an `AutoCloseable` is closed, an opened [[table]] is
  *    forgotten.
  *
  * Storage level is conf-gated: `spark.graft.stageCache.storageLevel`
  * (default MEMORY_AND_DISK — Dataset.cache()'s level). A 126-query
  * catalog's resident set is whatever the catalog touched; setting
  * MEMORY_AND_DISK_SER trades CPU (serde on re-read) for a several-×
  * smaller deserialized footprint, the standard lever when cached stages
  * start evicting each other. Any `StorageLevel.fromString` name is
  * accepted.
  */
object StageCache {

  /** `(fingerprint, value)` once built, else null; set under its lock. */
  private final class Slot { @volatile var entry: (String, Any) = _ }

  private val slots = new ConcurrentHashMap[(SparkSession, String), Slot]

  private val hooked = ConcurrentHashMap.newKeySet[SparkSession]()

  /** Conf key for the persist level of every cached stage. */
  val StorageLevelConf = "spark.graft.stageCache.storageLevel"

  /** Conf key for the write-time table root. When set and
    * `<root>/<sanitized key>` holds a committed parquet table (the
    * `index-sketches` CLI verb writes them), [[getOrCache]] and
    * [[readThroughOrBuild]] READ it instead of recomputing the stage —
    * the local realization of "at 100 TB this is a write-time column":
    * sketches/grams are computed once when the corpus is written, and
    * every query against them is a parquet scan with pushdown, not a
    * recompute. Only stages whose values are partitioning-independent
    * may be persisted (sketch signatures, digest splits, gram pairs —
    * NOT the Misra-Gries input stages, whose merge order is part of the
    * pinned result).
    */
  val PathConf = "spark.graft.stageCache.path"

  private def sanitize(key: String): String =
    key.replaceAll("[^A-Za-z0-9._-]", "_")

  /** A fingerprint of a source table directory: sorted (name, size) of
    * its data files. Cheap (pure filesystem stat) and catches the
    * driver's between-round testdata regeneration — the trap that
    * silently served stale events encodings before EventsEncodingSpec.
    * Callers include their derivation constants (shingle n, k, …) so a
    * parameter change also invalidates.
    */
  def sourceFingerprint(dirs: Seq[String], params: String): String = {
    val files = dirs.flatMap { d =>
      val f = new java.io.File(d)
      val children =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.toSeq
        else if (f.isFile) Seq(f)
        else Nil
      children.filterNot(_.getName.startsWith("_"))
        .map(c => s"${c.getName}:${c.length}")
    }.sorted
    s"$params|${files.mkString(",")}"
  }

  /** Like [[sourceFingerprint]] but RECURSIVE (relative-path:length over
    * the whole tree): required for doc_bucket/term_bucket-partitioned
    * tables, where a flat listing sees only the partition DIRECTORIES
    * and is blind to rewrites inside them. Metadata-only — a file-tree
    * walk, zero data read. */
  def treeFingerprint(dir: String, params: String): String =
    treeStat(dir, params)._1

  /** [[treeFingerprint]] and the total bytes of the files it covers, from
    * one walk: the on-disk size a resident copy of the table is sized
    * from ([[graft.search.VectorSearch.dense]]'s size guard). */
  def treeStat(dir: String, params: String): (String, Long) = {
    def walk(f: java.io.File, rel: String): Seq[(String, Long)] =
      if (f.isFile) Seq((rel, f.length))
      else Option(f.listFiles()).toSeq.flatten
        .filterNot(_.getName.startsWith("_"))
        .flatMap(c => walk(c, if (rel.isEmpty) c.getName
                              else s"$rel/${c.getName}"))
    val files = walk(new java.io.File(dir), "")
    (s"$params|${files.map { case (r, n) => s"$r:$n" }.sorted.mkString(",")}",
      files.map(_._2).sum)
  }

  private def metaFile(dir: java.io.File) =
    new java.io.File(dir, "_graft_fingerprint")

  /** The ONE reader of the freshness protocol (committed marker +
    * recorded fingerprint): every staleness decision — tables or
    * artifacts — goes through this, so the contract cannot diverge. */
  private def recordedFingerprint(dir: java.io.File): Option[String] =
    if (!new java.io.File(dir, "_SUCCESS").isFile) None
    else {
      try Some(new String(java.nio.file.Files.readAllBytes(
        metaFile(dir).toPath), "UTF-8"))
      catch { case _: Throwable => None }
    }

  /** The persisted table for `key` — ONLY if it is committed AND its
    * recorded fingerprint matches the caller's expectation. A stale
    * table (source regenerated, constants changed) is ignored with a
    * log line rather than silently served: golden-pinned consumers
    * (d13) and bench runs have no oracle to catch it downstream.
    */
  private def persistedTable(s: SparkSession, key: String,
      fingerprint: Option[String]): Option[DataFrame] =
    s.conf.getOption(PathConf).flatMap { root =>
      val dir = new java.io.File(root, sanitize(key))
      recordedFingerprint(dir) match {
        case None => None
        case Some(have) =>
          fingerprint match {
            case Some(want) if want != have =>
              // scalastyle:off println
              println(s"[StageCache] persisted stage '$key' is STALE " +
                "(source fingerprint changed) — recomputing")
              // scalastyle:on println
              None
            case _ => Some(s.read.parquet(dir.toString))
          }
      }
    }

  /** True iff a committed persisted table for `key` exists under `root`
    * AND its recorded fingerprint matches — i.e. [[getOrCache]] with
    * `PathConf = root` would serve it. Lets batch builders
    * ([[WriteTimeTables.persistAll]]) skip stages that are already
    * current instead of rewriting identical bytes.
    */
  def isFresh(key: String, root: String,
      fingerprint: Option[String]): Boolean = {
    val dir = new java.io.File(root, sanitize(key))
    (fingerprint, recordedFingerprint(dir)) match {
      case (_, None) => false
      case (Some(want), Some(have)) => want == have
      case (None, Some(_)) => true
    }
  }

  /** Write a stage's rows as the persisted table [[getOrCache]] will
    * read through to, alongside the source fingerprint that guards
    * against serving it stale. Returns the table path.
    */
  /** Stage columns that are partition LAYOUT, not data: a stage carrying
    * one persists as a partitioned table, so read-through consumers get
    * PartitionFilters pruning on it (the lex_inverted postings read only
    * the query terms' term_bucket cells). */
  val PartitionColumns: Seq[String] = Seq("term_bucket")

  def persistStage(s: SparkSession, key: String, df: DataFrame,
      root: String, fingerprint: Option[String] = None): String = {
    val dir = new java.io.File(root, sanitize(key))
    val partCols = PartitionColumns.filter(df.columns.contains)
    val w = df.write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .parquet(dir.toString)
    fingerprint.foreach { fp =>
      java.nio.file.Files.write(metaFile(dir).toPath, fp.getBytes("UTF-8"))
    }
    dir.toString
  }

  /** Freshness check for a NON-TABULAR write-time artifact (a
    * persisted ANN index directory, not a parquet table): committed
    * and fingerprint-matched, the same contract [[isFresh]] gives
    * tables. The artifact's own writer calls [[commitArtifact]]. */
  def artifactFresh(dir: java.io.File, fingerprint: String): Boolean =
    recordedFingerprint(dir).contains(fingerprint)

  /** Commit a non-tabular artifact directory: record the fingerprint,
    * then the _SUCCESS marker LAST so a crash mid-write never leaves a
    * committed-looking stale artifact. */
  def commitArtifact(dir: java.io.File, fingerprint: String): Unit = {
    java.nio.file.Files.write(metaFile(dir).toPath,
      fingerprint.getBytes("UTF-8"))
    java.nio.file.Files.write(
      new java.io.File(dir, "_SUCCESS").toPath, Array.empty[Byte])
  }

  /** Read-through WITHOUT in-memory caching: the persisted table if one
    * exists (and matches `fingerprint`), else the built plan as-is. For
    * stages measured to be cheaper recomputed than cached (d9/d12's
    * gram pairs — a columnar cache of ~n_grams rows costs more than the
    * second computation), but which still profit from a write-time
    * table when one was persisted.
    */
  def readThroughOrBuild(s: SparkSession, key: String,
      fingerprint: Option[String] = None)(build: => DataFrame): DataFrame =
    persistedTable(s, key, fingerprint).getOrElse(build)

  private def levelOf(s: SparkSession): StorageLevel = {
    val name = s.conf.get(StorageLevelConf, "MEMORY_AND_DISK")
    try StorageLevel.fromString(name)
    catch { case _: IllegalArgumentException => StorageLevel.MEMORY_AND_DISK }
  }

  /** The [[memo]]'d stage for `key`: the fresh persisted table if one is
    * committed, else `build`'s plan — persisted either way, so the many
    * consumer actions share one IO pass. */
  def getOrCache(s: SparkSession, key: String,
      fingerprint: Option[String] = None)(build: => DataFrame): DataFrame =
    memo(s, key, fingerprint.getOrElse("")) {
      persistedTable(s, key, fingerprint).getOrElse(build).persist(levelOf(s))
    }

  /** A [[table]] slot's value. Not a `Dataset`, so disposing of the slot
    * only forgets the table: `unpersist()` on a bare relation uncaches by
    * plan and would drop another slot's cached stage over the same path. */
  private final case class Opened(df: DataFrame)

  /** The parquet table at `path`, opened at most once per session and file
    * tree. Spark's file listing (a parallel job as wide as the directory
    * count past 32 — 256 tasks on a term_bucket table) and its inferred
    * schema are reused until the [[treeFingerprint]] changes; a
    * [[graft.ingest.TableSwap]] rewrite writes new part-file names, so the
    * next call after one opens the new table. */
  def table(s: SparkSession, path: String): DataFrame =
    memo(s, s"table:$path", treeFingerprint(path, "")) {
      Opened(s.read.parquet(path))
    }.df

  /** `s`'s value for `key`, built when the slot is empty or holds another
    * `fingerprint` (the old value is disposed of first). Only a
    * successful build is kept. The build runs under the slot's lock, NOT
    * inside `computeIfAbsent`: builders nest (doc_bigrams → doc_words),
    * and a reentrant ConcurrentHashMap update throws "Recursive update"
    * when two keys share a bin, an identity-hash-dependent crash. */
  def memo[T](s: SparkSession, key: String, fingerprint: String)(
      build: => T): T = {
    if (hooked.add(s)) {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          release(s)
      })
    }
    val k = (s, key)
    val slot = slots.computeIfAbsent(k, _ => new Slot)
    val got = slot.synchronized {
      // a release between computeIfAbsent and this lock dropped the slot:
      // retry on a fresh one rather than fill an orphan nobody disposes
      if (slots.get(k) ne slot) None
      else Some(slot.entry match {
        case (fp, v) if fp == fingerprint => v.asInstanceOf[T]
        case _ =>
          empty(slot)
          val v = build
          slot.entry = (fingerprint, v)
          v
      })
    }
    got.getOrElse(memo(s, key, fingerprint)(build))
  }

  /** Dispose of `slot`'s value, if it holds one (caller holds its lock). */
  private def empty(slot: Slot): Boolean = slot.entry != null && {
    val v = slot.entry._2
    slot.entry = null
    try v match {
      case df: Dataset[_] => df.unpersist()
      case c: AutoCloseable => c.close()
      case _ => ()
    } catch { case _: Throwable => () }
    true
  }

  /** True iff `key` already holds a value for `s` — i.e. some consumer
    * already built (and, in the action-follows-build pattern every
    * catalog query has, materialized) the cached stage. Overlapped legs
    * use this to decide whether a shared dependency needs one
    * materializing pass BEFORE they fork — two concurrent jobs over an
    * unmaterialized cached stage otherwise both compute its blocks and
    * scan the source twice (r16: the VolumeEnvelopeGen cold measure of
    * v16 read 1012 corpus rows instead of 516 without this).
    */
  def contains(s: SparkSession, key: String): Boolean =
    Option(slots.get((s, key))).exists(_.entry != null)

  /** Bytes (memory + disk) currently held by cached RDDs in `s`'s
    * context — the stage cache's residency plus any other caching the
    * session did. Feeds the bench record's peak-storage stamp and the
    * release log line.
    */
  def storageBytes(s: SparkSession): Long =
    try s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    catch { case _: Throwable => -1L }

  /** Dispose of and forget every slot owned by `s` (waiting out a build
    * in progress). Logs the released residency so a long-lived JVM's
    * cache growth is observable instead of inferred (the r7
    * bench-inflation question).
    */
  def release(s: SparkSession): Unit = {
    val before = storageBytes(s)
    var n = 0
    val it = slots.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        it.remove()
        if (e.getValue.synchronized(empty(e.getValue))) n += 1
      }
    }
    hooked.remove(s)
    if (n > 0) {
      // -1 = sample unavailable (release() via the application-end
      // listener runs while the context is tearing down)
      val bytes = if (before < 0) "n/a (context stopping)" else s"$before bytes"
      // scalastyle:off println
      println(s"[StageCache] released $n slots, storage before release: $bytes")
      // scalastyle:on println
    }
  }
}
