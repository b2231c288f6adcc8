package graft
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark main. Contract: ONE JSON line on stdout with per-query
  * seconds. Because the driver parses that line from a bounded stdout
  * *tail* (2000 chars — BENCH_r04/r05 recorded `parsed: null` once the
  * catalog grew past ~60 queries and the line outgrew the window), the
  * full record is ALSO written to `bench_out.json`, and the very last
  * stdout line is a compact summary (guaranteed < 1 KB) whose
  * `queries_file` field points at the full record. Consumers should
  * prefer `bench_out.json`.
  *
  * The record is only trustworthy when nothing else competes for the 32
  * cores (BENCH_r04/r05 showed 10-20x contention swings on unchanged
  * code), so before measuring we wait — bounded — for any *unrelated*
  * JVM to exit, and stamp the outcome (`contended`, `other_jvms`,
  * `loadavg_start`) into the record so a contaminated run is
  * self-describing instead of silently wrong.
  */
object Bench {

  /** Pids of this process and its ancestors (sbt, the driver shell…) —
    * these are java/python too but are the ones *running* the bench. */
  private def ancestorPids(): Set[Long] = {
    var ph: java.util.Optional[ProcessHandle] =
      java.util.Optional.of(ProcessHandle.current())
    val acc = scala.collection.mutable.Set.empty[Long]
    while (ph.isPresent) { acc += ph.get.pid; ph = ph.get.parent() }
    acc.toSet
  }

  /** Command lines of java processes that are NOT this bench's own
    * process tree (ancestors or descendants). Those are the contention
    * sources that invalidated BENCH_r04/r05. */
  private def otherJvms(): Seq[String] = {
    val own = ancestorPids()
    val self = ProcessHandle.current()
    ProcessHandle.allProcesses().iterator().asScala
      .filter { p =>
        val cmd = p.info().command().orElse("")
        (cmd.endsWith("/java") || cmd == "java") &&
          !own.contains(p.pid) && !isDescendant(p, self)
      }
      .map(p => s"pid=${p.pid} ${p.info().commandLine().orElse("?").take(160)}")
      .toSeq
  }

  private def isDescendant(p: ProcessHandle, root: ProcessHandle): Boolean = {
    var cur = p.parent()
    while (cur.isPresent) {
      if (cur.get.pid == root.pid) return true
      cur = cur.get.parent()
    }
    false
  }

  /** The host-calibration workload (min-of-3 of a FIXED 6M-md5 shuffle
    * over 32 partitions — never changes across rounds). total/calib is
    * the host-speed-normalized number cross-round records compare;
    * shared with the sf1 soak so its artifact is host-normalized too.
    */
  private[graft] def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 6000000L, 1, 32)
        .selectExpr("id", "md5(cast(id as string)) AS h", "id % 997 AS k")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.max("h").as("mx"))
        .orderBy("k")
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 3).map(_ => once()).min
  }

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(",")
    catch { case _: Throwable => "?" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // Pre-flight: wait (up to 120 s) for unrelated JVMs to drain. We do
    // not hard-refuse — an aborted run records nothing, which is worse
    // than a contention-stamped one — but the stamp makes the verdict
    // unambiguous.
    var waited = 0
    var others = otherJvms()
    // loadavg pre-gate (VERDICT r14 task 3): the r14 record was measured
    // on a host at loadavg 6.9 and overstated every time 30-60% — wait
    // for the 1-min loadavg to drop under the threshold too, not just
    // for named JVMs to exit (contention has more sources than JVMs)
    val loadMax = sys.env.get("SPARK_GRAFT_LOADAVG_MAX")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(4.0)
    def load1(): Double =
      try loadavg().split(",")(0).toDouble catch { case _: Throwable => 0.0 }
    while ((others.nonEmpty || load1() > loadMax) && waited < 120) {
      Thread.sleep(5000); waited += 5; others = otherJvms()
    }
    val loadGateOk = load1() <= loadMax
    val contended = others.nonEmpty
    val load0 = loadavg()

    val spark = GraftSession.local()
    // warm the JVM (codegen, parquet reader, shuffle, window/join exec,
    // md5/regex expression paths) on SYNTHETIC data so the first measured
    // query isn't charged ~5s of JIT/Janino compilation — no testdata is
    // touched beyond one tiny footer read, so nothing below pre-caches the
    // benchmarked tables
    try {
      spark.range(2000000).selectExpr("sum(id)").collect()
      val warm = spark.range(100000).selectExpr(
        "id", "id % 37 AS k", "md5(CAST(id AS STRING)) AS h",
        "CAST(id AS DOUBLE) / 7 AS v")
      warm.createOrReplaceTempView("__warm")
      spark.sql(
        """SELECT k, COUNT(*), SUM(v),
          |  MAX(LAG(v, 1) OVER (PARTITION BY k ORDER BY id)),
          |  MAX(ROW_NUMBER() OVER (PARTITION BY k ORDER BY v DESC))
          |FROM __warm GROUP BY k""".stripMargin).collect()
      spark.sql(
        """SELECT a.k, COUNT(*) FROM __warm a
          |JOIN (SELECT DISTINCT k FROM __warm) b ON a.k = b.k
          |WHERE a.h LIKE '%7%' GROUP BY a.k ORDER BY a.k LIMIT 5""".stripMargin)
        .collect()
      spark.catalog.dropTempView("__warm")
      spark.read.parquet(s"$sfDir/nation.parquet").count()
    } catch { case _: Throwable => () }
    // plan-shape warmup: run the whole catalog once at the SMALLEST scale
    // factor (a different dataset — nothing from the benchmarked tables is
    // cached). First execution of each plan pays 1-4s of Janino/JIT
    // compilation (measured: x3 cold 4.1s vs warm 0.5s on identical data);
    // compiling the exact generated code ahead of time makes the timed
    // numbers below steady-state per-query costs, which is what a
    // long-running cluster actually sees.
    val warmDir = "/root/testdata/sf0.001"
    // canonical-path compare: a trailing slash / symlink spelling of the
    // warm dir must not defeat the "never warm on the benchmarked data" rule
    val sameData =
      try new java.io.File(warmDir).getCanonicalPath ==
        new java.io.File(sfDir).getCanonicalPath
      catch { case _: Throwable => warmDir == sfDir }
    // Optional catalog subset (A/B attribution runs): SPARK_GRAFT_BENCH_QUERIES
    // = "half1" | "half2" (sorted-name split) or a regex over query names.
    // Stamped into the record so a subset run can never pass as a full one.
    val filterSpec = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
    val allNames = SparkEntry.queries.keys.toSeq.sorted
    val selectedNames: Set[String] = filterSpec match {
      case None => allNames.toSet
      case Some("half1") => allNames.take(allNames.size / 2).toSet
      case Some("half2") => allNames.drop(allNames.size / 2).toSet
      case Some(re) =>
        val chosen = allNames.filter(_.matches(re))
        require(chosen.nonEmpty, s"SPARK_GRAFT_BENCH_QUERIES matched nothing: $re")
        chosen.toSet
    }
    val benchQueries = SparkEntry.queries.filter { case (k, _) => selectedNames(k) }
    if (!sameData && new java.io.File(warmDir).isDirectory) {
      benchQueries.foreach { case (_, fn) =>
        try fn(spark, warmDir).write.mode("overwrite").format("noop").save()
        catch { case _: Throwable => () }
      }
    }
    // Host-calibration denominator: a FIXED synthetic workload (never
    // changes across rounds — 6M md5 hashes into a 997-key shuffle over 32
    // fixed partitions), timed min-of-3 AFTER all warmup so JIT is paid.
    // It touches no testdata and scales with exactly what the catalog
    // queries contend for (CPU + shuffle on 32 cores), so total/calib is a
    // host-speed-normalized number comparable across records: a uniformly
    // loaded host inflates calib and the catalog alike, a real plan
    // regression inflates only the catalog. This is the instrument the
    // r6→r7 idle-record question (48.9→84.8 s: host or repo?) lacked.
    //
    // N timed passes per query (default 3), report the LOWER MEDIAN over
    // the successful passes. The start-time JVM check cannot see load the
    // HOST injects mid-run (observed: the same catalog on the same data
    // swinging 86→143 s with a DIFFERENT query spiking 10-20× each run —
    // a8 21.5 s one run, a17 9.7 s the next, both ~0.5 s when quiet).
    // r9/r10 each spent ledger space adjudicating a single-query flap
    // (d9, then p6) under min-of-2; a median-of-3 needs a spike in TWO of
    // three passes to move, so round-over-round deltas stop needing
    // manual host-noise attribution. Lower median = element (n-1)/2 of
    // the sorted times: the true middle for n=3, the min for n=2 (the
    // pre-r11 semantics), never an interpolated value a spike inflates.
    // A failed query must NOT masquerade as a fast one (BENCH_r06 recorded
    // three AnalysisException-throwing queries at 0.05-0.09 s — the cost of
    // throwing). Each pass records the error; a query is "failed" only if
    // it failed in EVERY pass (a transient executor hiccup in one pass
    // with clean other passes is a timing outlier, not a broken query).
    // Peak cached-stage residency across the run (memory + disk bytes),
    // sampled after every query — feeds the catalog-growth/StageCache
    // attribution (a resident set approaching executor storage would
    // explain uniform per-query inflation via eviction churn).
    var peakStorage = 0L
    // Per-query volume witnesses (VERDICT r12 task 4): bytes_shuffled /
    // rows_scanned / bytes_read from task metrics, bracketed by listener
    // -bus drains OUTSIDE the timed region. Component-wise MIN across
    // successful WARM passes (pass 1 is excluded whenever more than one
    // pass runs — it carries StageCache build traffic, so its numbers
    // are cold, and a cold min is not the steady-state figure a
    // cross-round envelope should compare; ADVICE r13). With a single
    // pass the recorded volumes ARE cold — `volumes_stat` says which,
    // so volume_diff consumers can tell the two apart. Volumes are
    // plan+data facts: host noise moves seconds, never bytes.
    val witness = org.apache.spark.sql.graft.VolumeWitness.attach(spark)
    def timedPass(vol: scala.collection.mutable.Map[String, (Long, Long, Long)],
        recordVol: Boolean = true)
        : Map[String, (Double, Option[String])] =
      benchQueries.map { case (name, fn) =>
        org.apache.spark.sql.graft.VolumeWitness.sync(spark)
        val v0 = witness.snapshot()
        val t0 = System.nanoTime()
        // noop sink: forces full evaluation of every output column
        // (count() would let Catalyst prune map-side projections)
        val err =
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); None }
          catch {
            case e: Throwable =>
              Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")
          }
        val sec = (System.nanoTime() - t0) / 1e9
        if (err.isEmpty && recordVol) {
          org.apache.spark.sql.graft.VolumeWitness.sync(spark)
          val v1 = witness.snapshot()
          val d = (v1._1 - v0._1, v1._2 - v0._2, v1._3 - v0._3)
          vol(name) = vol.get(name).fold(d)(p => (math.min(p._1, d._1),
            math.min(p._2, d._2), math.min(p._3, d._3)))
        }
        val sb = graft.queries.StageCache.storageBytes(spark)
        if (sb > peakStorage) peakStorage = sb
        name -> (sec, err)
      }
    val volMain = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    val volRt = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    def volJson(m: scala.collection.mutable.Map[String, (Long, Long, Long)])
        : String =
      m.toSeq.sortBy(_._1).map { case (k, (sh, r, in)) =>
        "\"" + k + "\":" + s"""{"sh":$sh,"rows":$r,"in":$in}"""
      }.mkString("{", ",", "}")
    val nPasses = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ >= 1)
      .getOrElse(3)
    // Median over SUCCESSFUL passes only: a query that threw in one pass
    // must not record the throw's (fast) time — that would reproduce the
    // BENCH_r06 fast-failure masquerade for single-pass hiccups.
    // Also names the queries timed from fewer surviving passes than run:
    // a cold (un-warmed) retry measurement is among their inputs and the
    // steady-state rationale does not fully hold — consumers should
    // discount them, not read a cold run as a regression.
    def combinePasses(passes: Seq[Map[String, (Double, Option[String])]])
        : (Map[String, Double], Map[String, String], Seq[String]) = {
      val names = passes.head.keys.toSeq
      val errs: Map[String, String] = names.flatMap { k =>
        val es = passes.map(_(k)._2)
        if (es.forall(_.isDefined)) Some(k -> es.head.get) else None
      }.toMap
      val res = names.map { k =>
        val ok = passes.map(_(k)).collect { case (t, None) => t }.sorted
        k -> (if (ok.nonEmpty) ok((ok.size - 1) / 2)
              else passes.map(_(k)._1).min) // all failed: -1 sentinel later
      }.toMap
      val short = names.filter { k =>
        val n = passes.count(_(k)._2.isEmpty)
        n > 0 && n < passes.size
      }.sorted
      (res, errs, short)
    }
    // min-over-passes per query, for CROSS-ROUND continuity: rounds 1-10
    // recorded min-of-2, so a median headline alone would read as a
    // structural regression; `value_min` is the like-for-like number.
    // Computed over the FIRST TWO passes only (ADVICE r11 #3): min over
    // all three passes is statistically lower than min-of-2, so letting
    // the pass count grow the sample would bias the continuity stat
    // downward in later rounds' favor.
    // Returns (sum, nQueries): `value_min_n` stamps how many queries
    // the continuity sum covers, so a query that only succeeded in a
    // later pass (excluded here — its min-of-2 has no meaning) can
    // never silently shrink the cross-round comparison.
    def minTotal(passes: Seq[Map[String, (Double, Option[String])]],
        errs: Map[String, String]): (Double, Int) = {
      val mins = passes.head.keys.toSeq.collect {
        case k if !errs.contains(k) &&
            passes.take(2).exists(_(k)._2.isEmpty) =>
          passes.take(2).map(_(k)).collect { case (t, None) => t }.min
      }
      (mins.sum, mins.size)
    }
    // Cross-round subset totals (median stat, successful queries only):
    // value_r1set over the frozen 36-query r1 catalog (r1 aggregate
    // 55.04 s — the judge's baseline join), value_prevset over the
    // previous round's shipped catalog (BenchSets.PrevSet, updated each
    // round). *_n counts the subset queries actually present+successful
    // so a rename or failure can never silently shrink the comparison.
    def subsetTotal(res: Map[String, Double], errs: Map[String, String],
        set: Set[String]): (Double, Int) = {
      val ok = res.collect {
        case (k, v) if set(k) && !errs.contains(k) => v }
      (ok.sum, ok.size)
    }
    // Calib probes BRACKET the catalog passes: two consecutive rounds of
    // total_over_calib moving opposite the raw total (r8/r9) showed one
    // probe cannot tell "host got slower" from "probe got unlucky" — the
    // normalizer is the MEAN of the bracketing probes, and all probes +
    // spread are recorded so the instrument's own noise is visible in
    // the artifact instead of silently folded into the ratio.
    //
    // SPREAD GATE (r10 verdict #2): a measurement whose bracketing
    // probes disagree by more than the threshold (default 0.30 — the r10
    // clean-host run measured 0.139, the noisy one 0.464) is REJECTED
    // and re-run once; if the re-run still exceeds it, the record is
    // kept but stamped `calib_gate:"exceeded"` so a contaminated
    // artifact self-describes rather than silently entering the
    // round-over-round comparison.
    val spreadMax = sys.env.get("SPARK_GRAFT_CALIB_SPREAD_MAX")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(0.30)
    def probeSpread(ps: Seq[Double]): Double =
      (ps.max - ps.min) / (ps.sum / ps.size)
    // PASS-SPREAD GATE (r14 verdict #3): the calib gate measures probe
    // spread, which is blind to contention DURING the catalog passes
    // when both bracketing probes land on quiet moments (exactly the
    // r14 contamination: pass totals 245/179/310 s, spread 1.73×, calib
    // spread 0.19 "ok"). Per-attempt pass totals over the queries clean
    // in every pass must agree within max/min ≤ 1.4, or the attempt is
    // rejected and re-run once, same protocol as the calib gate.
    val passSpreadMax = sys.env.get("SPARK_GRAFT_PASS_SPREAD_MAX")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(1.4)
    def passSpreadOf(ps: Seq[Map[String, (Double, Option[String])]])
        : Double = {
      if (ps.size < 2) return 1.0
      val bad = ps.flatMap(_.collect { case (k, (_, Some(_))) => k }).toSet
      val shared = ps.map(_.keySet).reduce(_ intersect _) -- bad
      val totals = ps.map(p => shared.toSeq.map(k => p(k)._1).sum)
      if (totals.min <= 0) 1.0 else totals.max / totals.min
    }
    var attempt = 0
    val rejected = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    var passes: Seq[Map[String, (Double, Option[String])]] = null
    var calibBefore = 0.0
    var calibAfter = 0.0
    var calibGateOk = false
    var passGateOk = false
    while (!(calibGateOk && passGateOk) && attempt < 2) {
      attempt += 1
      calibBefore = calibrate(spark)
      if (attempt > 1) volMain.clear() // rejected-run volumes: re-measure
      passes = (1 to nPasses).map(i =>
        timedPass(volMain, recordVol = nPasses == 1 || i > 1))
      calibAfter = calibrate(spark)
      calibGateOk = probeSpread(Seq(calibBefore, calibAfter)) <= spreadMax
      passGateOk = passSpreadOf(passes) <= passSpreadMax
      if (!(calibGateOk && passGateOk) && attempt < 2) {
        rejected += Seq(calibBefore, calibAfter)
        System.err.println(f"[bench] gates: calib spread ${probeSpread(
          Seq(calibBefore, calibAfter))}%.3f (max $spreadMax%.2f), pass " +
          f"spread ${passSpreadOf(passes)}%.2f (max $passSpreadMax%.2f) " +
          "— host was noisy during the catalog passes; rejecting and " +
          "re-running")
      }
    }
    val gateOk = calibGateOk
    val (results, errors, singlePass) = combinePasses(passes)
    // pass totals exclude EVERY query that failed in ANY pass, not just
    // the failing pass — per-pass totals exist to attribute host noise
    // across passes, which only works when all three sum the same
    // query set (a one-pass failure would otherwise read as the OTHER
    // passes being inflated)
    val unstable = errors.keySet ++ singlePass
    val passTotals = passes.map(p =>
      p.collect { case (k, (t, None)) if !unstable(k) => t }.sum)
    val calibProbes =
      scala.collection.mutable.ArrayBuffer(calibBefore, calibAfter)
    val calibMean = (calibBefore + calibAfter) / 2.0

    // Read-through pass: the SAME catalog with the persisted
    // write-time tables on (spark.graft.stageCache.path) — the
    // artifact-of-record number for "at 100 TB the sketch/posting
    // stages are a parquet scan, not a recompute". Tables build (or
    // freshness-check) first at this sf; the build second is recorded
    // separately — it is write-time cost, paid once per corpus write,
    // amortized across every query that follows. Disable with
    // SPARK_GRAFT_READTHROUGH=0; skipped for subset (A/B) runs.
    val rtEnabled = filterSpec.isEmpty &&
      sys.env.getOrElse("SPARK_GRAFT_READTHROUGH", "1") != "0"
    val readthrough: Option[(Map[String, Double], Map[String, String],
        Double, Double, Int)] =
      if (!rtEnabled) None
      else try {
        val sfName = new java.io.File(sfDir).getName
        val root = s"localdata/index-sketches-$sfName"
        spark.conf.unset(graft.queries.StageCache.PathConf)
        val tb0 = System.nanoTime()
        graft.queries.WriteTimeTables.persistAll(spark, sfDir, root)
        val buildSec = (System.nanoTime() - tb0) / 1e9
        // drop memoized stages and values so the timed passes genuinely
        // read the persisted tables, not the main run's memory residue
        graft.queries.StageCache.release(spark)
        spark.conf.set(graft.queries.StageCache.PathConf, root)
        try {
          val rPasses = (1 to nPasses).map(i =>
            timedPass(volRt, recordVol = nPasses == 1 || i > 1))
          val (rres, rerrs, _) = combinePasses(rPasses)
          val (rtMin, rtMinN) = minTotal(rPasses, rerrs)
          Some((rres, rerrs, buildSec, rtMin, rtMinN))
        } finally {
          spark.conf.unset(graft.queries.StageCache.PathConf)
          graft.queries.StageCache.release(spark)
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] read-through pass failed: $e")
          None
      }
    if (readthrough.isDefined) calibProbes += calibrate(spark)
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val qs = results.map { case (k, v) =>
      // sentinel -1 for failed queries: unmistakable in any consumer that
      // sums or sorts times, while keeping the value numeric for parsers
      s"\"" + k + "\":" + (if (errors.contains(k)) "-1" else v.toString)
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, m) => jstr(k) + ":" + jstr(m) }
      .mkString("{", ",", "}")
    val total = results.collect { case (k, v) if !errors.contains(k) => v }.sum
    val calibSpread =
      (calibProbes.max - calibProbes.min) / (calibProbes.sum / calibProbes.size)
    val rtJson = readthrough.map { case (rres, rerrs, buildSec, rtMin,
        rtMinN) =>
      val rqs = rres.map { case (k, v) =>
        "\"" + k + "\":" + (if (rerrs.contains(k)) "-1" else v.toString)
      }.mkString("{", ",", "}")
      val rtotal = rres.collect {
        case (k, v) if !rerrs.contains(k) => v }.sum
      val (rtR1, rtR1n) = subsetTotal(rres, rerrs, BenchSets.R1Set)
      val (rtPrev, rtPrevN) = subsetTotal(rres, rerrs, BenchSets.PrevSet)
      f""","value_readthrough":$rtotal""" +
        f""","readthrough":{"value":$rtotal,"build_sec":$buildSec%.3f""" +
        f""","value_min":$rtMin%.3f,"value_min_n":$rtMinN""" +
        s""","value_min_passes":2""" +
        f""","value_r1set":$rtR1%.3f,"r1set_n":$rtR1n""" +
        f""","value_prevset":$rtPrev%.3f,"prevset_n":$rtPrevN""" +
        f""","failures":${rerrs.size},"over_calib":${rtotal / calibMean}%.1f""" +
        s""","queries":$rqs,"volumes":${volJson(volRt)}}"""
    }.getOrElse("")
    val meta =
      s""""contended":$contended,"loadavg_start":"$load0"""" +
        s""","loadavg_end":"${loadavg()}","passes":$nPasses""" +
        s""","stat":"median","pass_totals":${passTotals
          .map(t => f"$t%.3f").mkString("[", ",", "]")}""" + {
          val (vm, vmN) = minTotal(passes, errors)
          f""","value_min":$vm%.3f,"value_min_n":$vmN"""
        } +
        s""","value_min_passes":2""" + {
          val (r1v, r1n) = subsetTotal(results, errors, BenchSets.R1Set)
          val (pv, pn) = subsetTotal(results, errors, BenchSets.PrevSet)
          f""","value_r1set":$r1v%.3f,"r1set_n":$r1n""" +
            f""","value_prevset":$pv%.3f,"prevset_n":$pn"""
        } +
        s""","attempts":$attempt""" +
        s""","calib_gate":"${if (gateOk) "ok" else "exceeded"}"""" +
        s""","pass_gate":"${if (passGateOk) "ok" else "exceeded"}"""" +
        f""","pass_spread":${passSpreadOf(passes)}%.3f""" +
        s""","load_gate":"${if (loadGateOk) "ok" else "exceeded"}"""" +
        // the gate evaluates the PAIR bracketing the timed catalog
        // passes; calib_spread below spans all probes incl. the
        // read-through-era third, so it can exceed the gate max while
        // the gate reads ok — record the gated pair's spread too so
        // the artifact is unambiguous
        f""","calib_gate_spread":${probeSpread(
          Seq(calibBefore, calibAfter))}%.3f""" +
        (if (rejected.nonEmpty)
          s""","rejected_probes":${rejected.map(_.map(p => f"$p%.3f")
            .mkString("[", ",", "]")).mkString("[", ",", "]")}"""
         else "") +
        s""","other_jvms":${others.size},"nq":${results.size}""" +
        s""","failures":${errors.size},"errors":$errJson""" +
        s""","single_pass":${singlePass.map(jstr).mkString("[", ",", "]")}""" +
        // calib_sec is the MEAN of the probes bracketing the main
        // catalog (probe 3, when present, brackets the read-through
        // pass); all probes + spread are recorded so the instrument's
        // own noise is in the artifact
        f""","calib_sec":$calibMean%.3f,"total_over_calib":${total / calibMean}%.1f""" +
        s""","calib_probes":${calibProbes.map(p => f"$p%.3f").mkString("[", ",", "]")}""" +
        f""","calib_spread":$calibSpread%.3f""" +
        rtJson +
        s""","volumes":${volJson(volMain)}""" +
        s""","volumes_stat":${jstr(
          if (nPasses > 1) "min_warm" else "cold_single_pass")}""" +
        s""","volumes_passes":${if (nPasses > 1) nPasses - 1 else 1}""" +
        // cross-round volume gate (VERDICT r13 task 6): flag any shared
        // query whose volumes grew past the envelope vs the committed
        // previous-round record — plan facts, so flags are plan
        // regressions (or intended changes), never host noise
        VolumeGate.gateJson(volMain.toMap, sfDir) +
        s""","peak_storage_bytes":$peakStorage""" +
        s""","storage_level":${jstr(spark.conf.get(
          graft.queries.StageCache.StorageLevelConf, "MEMORY_AND_DISK"))}""" +
        filterSpec.map(f => s""","filter":${jstr(f)}""").getOrElse("")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir",$meta}"""

    // Full record to a file — the authoritative artifact (stdout tails get
    // truncated; this never does).
    try {
      val out = java.nio.file.Paths.get("bench_out.json")
      java.nio.file.Files.write(out, (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }

    println(fullLine)
    // Final line: compact (slowest 15 queries only) so it survives any
    // stdout tail window ≥ ~1 KB and still parses as the contract shape.
    // failed queries carry no meaningful duration: keep them out of the
    // slowest-15 (they are named in failed[]), so the compact line never
    // shows a broken query as a clean measurement
    val top = results.toSeq.filterNot { case (k, _) => errors.contains(k) }
      .sortBy(-_._2).take(15)
      .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    // compact meta: failure NAMES only (bounded), full messages live in
    // bench_out.json — keeps the line under the ~1 KB tail window
    val compactMeta =
      s""""contended":$contended,"loadavg_start":"$load0"""" +
        s""","loadavg_end":"${loadavg()}","passes":$nPasses""" +
        s""","other_jvms":${others.size},"nq":${results.size}""" +
        s""","failures":${errors.size},"failed":${errors.keys.toSeq.sorted.take(10).map(jstr).mkString("[", ",", "]")}""" +
        readthrough.map { case (rres, rerrs, _, _, _) =>
          val rtotal = rres.collect {
            case (k, v) if !rerrs.contains(k) => v }.sum
          f""","value_readthrough":$rtotal%.3f"""
        }.getOrElse("")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$top,"sf":"$sfDir","queries_file":"bench_out.json",$compactMeta}""")
    spark.stop()
  }
}
