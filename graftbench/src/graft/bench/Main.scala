package graft.bench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Cli, GoldenHash, GraftSession}
import graft.api.Engine
import graft.embedding.OfflineEmbedder
import graft.ingest.IngestPipeline
import graft.ingest.IngestPipeline.{DocInput, writeTable}
import graft.search.{FusionFloor, HnswMaintenance, LexIndex}

/** The benchmark's JVM side: runs one workload over the inputs that
  * `graftbench/gen.py` wrote to the working directory and writes the raw
  * record (per-operation timings, output checks, spans) to `result.json`
  * there. Metrics are computed from that record by `graftbench/run.py`.
  *
  *   Main <serve|ingest> <seconds> <trace 0|1>
  *
  * Every path is relative to the working directory, so document ids (an
  * md5 of the source path) and with them the table layout do not depend
  * on where the checkout lives.
  */
object Main {
  val TopK = 10
  val HnswShards = 4
  /** One round: the second round's stop, rare, scoped and identity queries
    * plus the first round's oov query, which is also the cold serve. */
  val Round = Seq(5, 6, 7, 3, 9)

  final case class Query(cls: String, text: String, view: Option[String],
      expectTop1: Option[String])

  /** One timed operation: what ran, when, the CPU it used, whether it
    * failed, and the output check it failed (if any). */
  final case class Op(kind: String, cls: String, startNs: Long, endNs: Long,
      cpuNs: Long, failed: Boolean, wrong: Option[String])

  /** The lexical route and the gate of one traced serve. */
  final case class Route(cls: String, lexRoute: String, fused: Boolean)

  /** A whole-run output check. */
  final case class Check(ok: Boolean, detail: String)

  /** The `*Queries` modules that make up `SparkEntry.queries`, by name. */
  val QueryModules: Map[String, Map[String, (SparkSession, String) => DataFrame]] = {
    import graft.queries._
    Map(
      "RelationalQueries" -> RelationalQueries.defs,
      "PipelineQueries" -> PipelineQueries.defs,
      "VectorQueries" -> VectorQueries.defs,
      "DedupQueries" -> DedupQueries.defs,
      "TextAnalysisQueries" -> TextAnalysisQueries.defs,
      "EventQueries" -> EventQueries.defs,
      "MediaQueries" -> MediaQueries.defs,
      "ExtendedQueries" -> ExtendedQueries.defs,
      "SamplingQueries" -> SamplingQueries.defs,
      "DecisionSupportQueries" -> DecisionSupportQueries.defs,
      "WarehouseQueries" -> WarehouseQueries.defs,
      "SeriesQueries" -> SeriesQueries.defs,
      "SupplyChainQueries" -> SupplyChainQueries.defs)
  }

  /** Sidecars a catalog query rewrites on every run by design, not built
    * once and reused: `g6_cluster_balance` writes its centroid artifact
    * (the input of its DuckDB oracle replay) each time it runs. */
  val PerRunSidecars = Seq("localdata/g6-centroids/")

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean

  /** CPU time of the whole process (every thread: driver, tasks, GC) less
    * the time spent compiling bytecode, which depends on the JIT's
    * schedule rather than on the work. Steal time on a shared host is not
    * counted, unlike in wall time. */
  def cpuNs(): Long =
    osBean.getProcessCpuTime - jitBean.getTotalCompilationTime * 1000000L

  def main(args: Array[String]): Unit = {
    val Array(workload, secondsArg, traceArg) = args
    val t0 = System.nanoTime()
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.vm.version"))
    val run = new Run(spark, secondsArg.toDouble, traceArg == "1", rec)
    val sessionS = secs(t0)
    try workload match {
      case "serve" => run.serve(sessionS)
      case "ingest" => run.ingest(sessionS)
      case w => sys.error(s"unknown workload $w")
    } finally {
      val mx = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      rec("gc_s") = mx.map(_.getCollectionTime).sum / 1e3
      rec("jit_s") = java.lang.management.ManagementFactory.getCompilationMXBean
        .getTotalCompilationTime / 1e3
      rec("spans") = run.tracer.finish().map { case (s, c) =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
          "start" -> s.startNs, "end" -> s.endNs, "jobs" -> c.jobs.sum,
          "stages" -> c.stages.sum, "tasks" -> c.tasks.sum,
          "read_bytes" -> c.readBytes.sum, "shuffle_bytes" -> c.shuffleBytes.sum,
          "write_bytes" -> c.writeBytes.sum)
      }
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValue(new java.io.File("result.json"), rec)
      spark.stop()
    }
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The fragment an identity query names: the document's first text
    * fragment (for the generated markdown, its heading and fixed-shape
    * lead paragraph). */
  def identityFragment(path: String, text: String): (String, String) = {
    val f = IngestPipeline.processDocument(DocInput(path, text, isOcr = false))
      .fragments.filter(_.view == "text").minBy(f => (f.order, f.id))
    (f.id, f.content)
  }
}

final class Run(spark: SparkSession, seconds: Double,
    trace: Boolean, rec: mutable.Map[String, Any]) {
  import Main._

  val tracer = new Tracer(spark, trace)
  private val engine = new Engine(spark, new OfflineEmbedder(64))
  private val manifest =
    new ObjectMapper().readTree(
      new java.io.File("manifest.json"))
  private val docNames = manifest.get("docs").elements().asScala
    .map(_.asText()).toIndexedSeq
  private def docPath(name: String) = s"docs/$name"
  private def readText(path: String) = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
    java.nio.charset.StandardCharsets.UTF_8)

  private val ops = mutable.ArrayBuffer[Op]()
  private val checks = mutable.LinkedHashMap[String, Check]()
  private val firstHits = mutable.Map[Int, Seq[String]]()

  private def queries(): IndexedSeq[Query] =
    manifest.get("queries").elements().asScala.map { q =>
      val cls = q.get("class").asText()
      val view = Option(q.get("view")).filterNot(_.isNull).map(_.asText())
      if (cls == "identity") {
        val name = docNames(q.get("doc").asInt())
        val (id, content) = identityFragment(docPath(name),
          readText(docPath(name)))
        Query(cls, content, view, Some(id))
      } else Query(cls, q.get("text").asText(), view, None)
    }.toIndexedSeq

  /** Raw docs to every serving artifact: the five tables (the `ingest`
    * verb's writes), lex postings, the flat HNSW index and the floor. */
  private def buildTables(td: String, files: List[String], req: String): Unit = {
    val r = engine.ingest(Cli.readDocFiles(spark, files))
    tracer.span("ingest.documents", req) {
      writeTable(r.documents.toDF(), s"$td/documents", key = "id")
    }
    tracer.span("ingest.concepts", req) { writeTable(r.concepts.toDF(), s"$td/concepts") }
    tracer.span("ingest.fragments", req) { writeTable(r.fragments.toDF(), s"$td/fragments") }
    tracer.span("ingest.parents", req) { writeTable(r.parents.toDF(), s"$td/parents") }
    tracer.span("embedding.embeddings", req) {
      writeTable(r.embeddings.toDF(), s"$td/embeddings")
    }
    r.release()
    tracer.span("search.lex_build", req) { LexIndex.build(spark, td) }
    tracer.span("search.hnsw_build", req) {
      HnswMaintenance.writeIndex(spark.read.parquet(s"$td/embeddings"),
        s"$td/embeddings_hnsw", HnswShards, docCol = Some("document_id"))
    }
    tracer.span("search.floor_calibrate", req) {
      val a = FusionFloor.calibrate(spark.read.parquet(s"$td/fragments"),
        "id", "content", tableDir = Some(s"$td/fragments"))
      FusionFloor.save(a, s"$td/fusion_floor.txt")
    }
  }

  private def viewsOf(td: String): Map[String, String] =
    spark.read.parquet(s"$td/fragments").select(col("id"), col("view"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  /** The output check of one serve; None when it passes. */
  private def wrongness(q: Query, qi: Int, r: Cli.HybridResult,
      views: Map[String, String]): Option[String] = {
    val ids = r.hits.map(_._1)
    if (firstHits.getOrElseUpdate(qi, ids) != ids) Some(s"query $qi: hits changed on repeat")
    else q.cls match {
      case _ if q.expectTop1.nonEmpty && !ids.headOption.contains(q.expectTop1.get) =>
        Some(s"query $qi (${q.cls}): top-1 ${ids.headOption} != ${q.expectTop1.get}")
      case "oov" if r.wLex != 0.0 =>
        Some(s"query $qi: oov served FUSED (wLex=${r.wLex})")
      case "scoped" if ids.isEmpty || ids.exists(id => !views.get(id).contains("code")) =>
        Some(s"query $qi: scoped hits outside view=code (${ids.size} hits)")
      case _ => None
    }
  }

  private def timedServe(td: String, q: Query, qi: Int, kind: String,
      views: Map[String, String]): Unit = {
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    val r = try Right(Cli.hybridSearchCommand(spark, td, q.text, TopK, view = q.view))
      catch { case e: Exception => Left(e) }
    val t1 = System.nanoTime()
    val cpu = cpuNs() - c0
    ops += (r match {
      case Right(res) => Op(kind, q.cls, t0, t1, cpu, failed = false,
        wrongness(q, qi, res, views))
      case Left(e) => Op(kind, q.cls, t0, t1, cpu, failed = true,
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    })
  }

  /** Traced serve of one query: the command under `span`, then (with
    * `layers`) the per-layer composition, which must return the same hits.
    * `untraced` runs right after the command, before the composition. */
  private def tracedServe(td: String, q: Query, qi: Int, span: String,
      views: Map[String, String], layers: Boolean = true,
      untraced: () => Unit = () => ()): Unit = {
    val r = tracer.span(span, s"${q.cls}:$qi") {
      Cli.hybridSearchCommand(spark, td, q.text, TopK, view = q.view)
    }
    untraced()
    val composed =
      if (layers) Some(TracedServe.serve(spark, tracer, s"layers:$qi", td, q.text, TopK, q.view))
      else None
    composed.foreach(t => routes += Route(q.cls, t.lexRoute, t.result.wLex > 0))
    val wrong = wrongness(q, qi, r, views).orElse(composed.collect {
      case t if t.result != r => s"query $qi: per-layer composition differs from the command"
    })
    ops += Op("traced", q.cls, 0L, 0L, 0L, failed = false, wrong)
  }
  private val routes = mutable.ArrayBuffer[Route]()

  /** One reingest batch: the rewritten files replace the originals at the
    * same paths (so the same document ids), then `Cli.reingestCommand`.
    * Returns the bytes rewritten and the post-write query. */
  private def reingest(td: String, batch: Int): (Long, Query) = {
    val names = manifest.get("rewrites").get(batch).elements().asScala
      .map(_.asText()).toList
    var bytes = 0L
    names.foreach { n =>
      val src = java.nio.file.Paths.get(s"rewrites/b$batch/$n")
      bytes += java.nio.file.Files.size(src)
      java.nio.file.Files.copy(src, java.nio.file.Paths.get(docPath(n)),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val files = names.map(docPath)
    tracer.span("cli.reingest", s"reingest:$batch") {
      Cli.reingestCommand(spark, engine, td, files)
    }
    val (id, content) = identityFragment(files.head, readText(files.head))
    (bytes, Query("fresh", content, None, Some(id)))
  }

  /** Setup shared by both workloads: session start (timed from `main`)
    * plus the build of the base tables dir from the raw docs. */
  private def setup(td: String, sessionS: Double): Unit = {
    val t0 = System.nanoTime()
    buildTables(td, docNames.map(docPath).toList, "setup")
    rec("build_s") = secs(t0)
    rec("setup_s") = sessionS + secs(t0)
    val nDocs = spark.read.parquet(s"$td/documents").count()
    checks("documents_count") = Check(nDocs == docNames.size,
      s"$nDocs of ${docNames.size}")
  }

  /** The round under tracing. The oov and rare queries are each served
    * once more untraced, right before and right after the traced command
    * respectively, so neither side of the tracing overhead always gets the
    * warmer caches. */
  private def tracedRound(td: String, qs: IndexedSeq[Query],
      views: Map[String, String], layers: Boolean): Unit =
    Round.foreach { i =>
      val q = qs(i)
      val pair = () => timedServe(td, q, i, "untraced", views)
      if (q.cls == "oov") pair()
      tracedServe(td, q, i, "cli.serve", views, layers,
        untraced = if (q.cls == "rare") pair else () => ())
    }

  /** Whole units only: another one starts when, at the last unit's pace,
    * it ends within `seconds` of `startNs`. */
  private def fitsAnother(startNs: Long, lastNs: Long): Boolean =
    System.nanoTime() - startNs + lastNs <= seconds * 1e9

  /** `serve`: the cold serve (an oov query) right after setup, then whole
    * rounds of the five classes, one client, for `seconds`. Each round
    * re-sends the cold query, so every run checks that a repeated serve
    * returns identical hits. */
  def serve(sessionS: Double): Unit = {
    val td = "tables"
    setup(td, sessionS)
    val qs = queries()
    val views = viewsOf(td)
    require(qs.size >= 10 && Round.map(qs(_).cls) ==
      Seq("stop", "rare", "scoped", "oov", "identity"), "unexpected query mix")
    if (!trace) {
      val start = System.nanoTime()
      timedServe(td, qs(3), 3, "cold", views)
      var last = 0L
      do {
        val u0 = System.nanoTime()
        Round.foreach(i => timedServe(td, qs(i), i, "warm", views))
        last = System.nanoTime() - u0
      } while (fitsAnother(start, last))
    } else {
      timedServe(td, qs(3), 3, "cold", views)
      tracedRound(td, qs, views, layers = true)
      val (bytes, fresh) = reingest(td, 0)
      rec("reingest_bytes") = Seq(bytes)
      // the per-layer composition of a post-write serve runs on `ingest`
      tracedServe(td, fresh, -1, "cli.fresh_serve", Map.empty, layers = false)
      catalog()
    }
    finishOps()
  }

  /** `ingest`: whole reingest batches for `seconds` (at least one), each
    * followed by one serve whose query is the first rewritten document's
    * new first fragment. */
  def ingest(sessionS: Double): Unit = {
    val td = "tables"
    setup(td, sessionS)
    val start = System.nanoTime()
    val nBatches = manifest.get("rewrites").size()
    val reBytes = mutable.ArrayBuffer[Long]()
    var b = 0
    var last = 0L
    do {
      val c1 = cpuNs()
      val t1 = System.nanoTime()
      val (bytes, fresh) = reingest(td, b)
      ops += Op("reingest", "reingest", t1, System.nanoTime(), cpuNs() - c1,
        failed = false, None)
      reBytes += bytes
      if (trace) tracedServe(td, fresh, -1 - b, "cli.fresh_serve", Map.empty)
      else timedServe(td, fresh, -1 - b, "fresh", Map.empty)
      b += 1
      last = System.nanoTime() - t1
    } while (b < nBatches && fitsAnother(start, last))
    rec("reingest_bytes") = reBytes.toSeq
    val nDocs = spark.read.parquet(s"$td/documents").count()
    checks("documents_count_after_reingest") = Check(nDocs == docNames.size,
      s"$nDocs of ${docNames.size}")
    // the serve round's commands and the catalog, so every span exists here
    // too; the per-layer serve spans come from the post-write serve
    if (trace) {
      tracedRound(td, queries(), viewsOf(td), layers = false)
      catalog()
    }
    finishOps()
  }

  /** Traced runs only: one query of each `*Queries` module on the seeded
    * catalog tables in `catalog/`, through the noop sink under span
    * `queries.<Module>` (request: the query name). Set-up runs each query
    * once and hashes its result; that first run builds the persisted
    * sidecars under `localdata/`. The traced pass must leave every file
    * there and in `catalog/` as it found it, and each query must hash the
    * same after it. */
  private def catalog(): Unit = {
    val dir = "catalog"
    val picks = manifest.get("catalog").elements().asScala.map { p =>
      val (m, q) = (p.get("module").asText(), p.get("query").asText())
      val defs = QueryModules(m)
      require(defs.contains(q), s"$q is not a $m query")
      (m, defs, q)
    }.toSeq
    require(picks.map(_._1).sorted == QueryModules.keys.toSeq.sorted,
      "the catalog step takes one query of each module")
    def attempt[A](body: => A): Either[String, A] =
      try Right(body)
      catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    def hashes() = picks.map { case (_, defs, q) =>
      attempt(GoldenHash.of(defs(q)(spark, dir)))
    }
    val setupHashes = hashes()
    val before = fingerprints(Seq("localdata", dir))
    picks.foreach { case (m, defs, q) =>
      val t0 = System.nanoTime()
      val r = attempt(tracer.span(s"queries.$m", q) {
        defs(q)(spark, dir).write.mode("overwrite").format("noop").save()
      })
      ops += Op("query", m, t0, System.nanoTime(), 0L, r.isLeft, r.left.toOption)
    }
    val after = fingerprints(Seq("localdata", dir))
    val (perRun, changed) = (before.keySet ++ after.keySet).toSeq.sorted
      .filter(k => before.get(k) != after.get(k))
      .partition(k => PerRunSidecars.exists(k.startsWith))
    checks("catalog_files_unchanged") = Check(changed.isEmpty,
      s"${before.size} files; changed: ${changed.take(5).mkString(", ")}")
    rec("catalog_per_run_rewrites") = perRun
    val rows = picks.zip(setupHashes.zip(hashes())).map {
      case ((m, _, q), (h0, h1)) =>
        checks(s"catalog_hash_$q") = Check(h0.isRight && h0 == h1, s"$h0 then $h1")
        Map("module" -> m, "query" -> q, "hash" -> h0.merge)
    }
    rec("catalog") = rows
  }

  /** {path: (size, md5)} of every file under `dirs`. */
  private def fingerprints(dirs: Seq[String]): Map[String, (Long, String)] =
    dirs.map(java.nio.file.Paths.get(_)).filter(java.nio.file.Files.exists(_))
      .flatMap(d => java.nio.file.Files.walk(d).iterator().asScala.toSeq)
      .filter(java.nio.file.Files.isRegularFile(_))
      .map { f =>
        val md = java.security.MessageDigest.getInstance("MD5")
        f.toString -> (java.nio.file.Files.size(f),
          md.digest(java.nio.file.Files.readAllBytes(f)).map("%02x".format(_)).mkString)
      }.toMap

  /** Heap still live after full collections: what the session retains
    * once the timed work is done. */
  private def heapLiveMb(): Double = {
    // the context cleaner drops released Spark state after a collection
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def finishOps(): Unit = {
    rec("heap_live_mb") = heapLiveMb()
    rec("ops") = ops.toSeq
    rec("routes") = routes.toSeq
    rec("checks") = checks
  }
}
