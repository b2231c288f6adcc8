package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch event operators
  * ([[graft.queries.EventQueries]]) plus a streaming ingest path.
  *
  * The reference has no streaming (SURVEY.md §2.10) — its closest analog is
  * idempotent incremental re-ingest. Here the same logical operators run in
  * both modes: watermarked tumbling windows (w2) and gap sessionization
  * (w3, via flatMapGroupsWithState with event-time timeout). Batch backfill
  * and live streams therefore agree row-for-row on closed windows/sessions.
  */
object EventStreams {

  /** Event-time microseconds of a (non-null) timestamp — `getTime` alone
    * truncates to milliseconds, which would diverge from the batch twins'
    * `unix_micros`. Shared by every stateful operator here AND by the
    * equivalence specs' replay ordering, so operator and test always read
    * the same clock.
    */
  private[graft] def eventTimeMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000) % 1000L

  /** Watermarked tumbling-window aggregation — streaming twin of
    * w2_tumbling_window. Append mode emits only closed windows.
    */
  def tumblingCounts(events: DataFrame, watermark: String = "2 hours",
      window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  final case class SessionInput(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long)
  final case class SessionState(sessionStart: Long, lastTs: Long, nEvents: Long)
  final case class SessionOut(user_id: Long, session_start_us: Long,
      session_end_us: Long, n_events: Long, duration_sec: Long)

  /** Gap-based sessionization with custom state — streaming twin of
    * w3_sessionization. Emits a session when `gapSec` of event-time silence
    * passes (enforced via event-time timeout against the watermark).
    */
  def sessionize(events: Dataset[SessionInput], gapSec: Long = 1800,
      watermark: String = "2 hours"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSec * 1000000L

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>

          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.sessionStart, s.lastTs, s.nEvents,
              (s.lastTs - s.sessionStart) / 1000000L))
          } else {
            // micro-batch arrival order is not event-time order: sort batch
            val sorted = rows.toSeq.sortBy(r => (eventTimeMicros(r.ts), r.event_id))
            val closed = Seq.newBuilder[SessionOut]
            var cur = state.getOption
            sorted.foreach { r =>
              val t = eventTimeMicros(r.ts)
              cur match {
                case Some(s) if t - s.lastTs > gapUs =>
                  closed += SessionOut(userId, s.sessionStart, s.lastTs,
                    s.nEvents, (s.lastTs - s.sessionStart) / 1000000L)
                  cur = Some(SessionState(t, t, 1))
                case Some(s) =>
                  // a within-watermark late event can carry t < lastTs
                  // (or even < sessionStart) ACROSS batches — it merges
                  // into the open session, but must never regress the
                  // session clock: lastTs only advances (else the next
                  // event measures its gap against the late straggler
                  // and the timeout re-arms in the past), and
                  // sessionStart only retreats
                  cur = Some(SessionState(math.min(s.sessionStart, t),
                    math.max(s.lastTs, t), s.nEvents + 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close the session once gap passes in event time
              state.setTimeoutTimestamp(s.lastTs / 1000L + gapSec * 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** Input row for [[asOfEnrich]]: `side` 0 = right (the enriching stream,
    * e.g. purchases), 1 = left (the enriched stream, e.g. clicks).
    */
  final case class AsOfEvent(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, side: Int, value: Double)
  final case class AsOfCarry(tsUs: Long, event_id: Long, value: Double)
  final case class AsOfOut(event_id: Long, user_id: Long,
      right_event_id: Option[Long], right_value: Option[Double])

  /** Streaming as-of enrichment — the streaming twin of
    * [[graft.operators.AsOfJoin.backward]] (j6's shape): every left event
    * emits with its key's most recent right event at-or-before it
    * (inclusive; greatest-event-id tiebreak among equal-timestamp rights —
    * identical to the batch `rightTiebreak` rule).
    *
    * State is ONE carry row per key (the latest right event) — bounded by
    * the key cardinality, not the stream length, which is what makes the
    * operator viable on unbounded streams; no timeout is needed because a
    * carry never expires (the "most recent purchase" stays relevant
    * forever, exactly like the batch window carry).
    *
    * Ordering contract: micro-batch arrival order is not event-time order,
    * so each batch is sorted by (ts, side, event_id) before the fold —
    * rights apply before lefts at equal timestamps (the inclusive rule).
    * ACROSS batches the stream must be per-key in event-time order (log/CDC
    * replay order); a left arriving after a right that post-dates it would
    * see too-new a carry. Full out-of-order support would buffer per key
    * until the watermark passes and emit from the sorted buffer — the same
    * fold, delayed; the in-order form is the production shape for ordered
    * ingestion logs. Equivalence to the batch operator is pinned on real
    * testdata in StreamBatchEquivalenceSpec (multi-batch replay).
    */
  def asOfEnrich(events: Dataset[AsOfEvent]): Dataset[AsOfOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfCarry, AsOfOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[AsOfCarry]) =>
          // NULL-time semantics match the batch operator (SQL UNKNOWN):
          // null-time rights never enter the carry; null-time lefts emit
          // with a null payload instead of inheriting the carry
          val (timed, nullTs) = rows.toSeq.partition(_.ts != null)
          // rights (side 0) before lefts at equal ts ⇒ inclusive backward;
          // equal-ts rights ascend by event_id ⇒ last update = greatest id
          val sorted = timed.sortBy(r => (eventTimeMicros(r.ts), r.side, r.event_id))
          val out = Seq.newBuilder[AsOfOut]
          nullTs.foreach { r =>
            if (r.side == 1) out += AsOfOut(r.event_id, userId, None, None)
          }
          var carry = state.getOption
          sorted.foreach { r =>
            if (r.side == 0) {
              val t = eventTimeMicros(r.ts)
              if (carry.forall(c => t > c.tsUs ||
                  (t == c.tsUs && r.event_id > c.event_id)))
                carry = Some(AsOfCarry(t, r.event_id, r.value))
            } else {
              out += AsOfOut(r.event_id, userId,
                carry.map(_.event_id), carry.map(_.value))
            }
          }
          carry.foreach(state.update)
          out.result().iterator
      }
  }

  final case class TransEvent(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, event_type: String)
  final case class TransState(lastType: String)
  final case class TransEdge(user_id: Long, from_type: String,
      to_type: String)

  /** Per-user event-type transition edges — streaming twin of
    * w14_transitions' edge generation (the census and normalization stay
    * a downstream agg in either mode). State is ONE value per user — the
    * type of the latest event seen — the same bounded-by-key-cardinality
    * contract as [[asOfEnrich]], and the same ordering contract: within a
    * batch events sort by event time, ACROSS batches arrival must be
    * per-key event-time-ordered (log/CDC replay). Null-time events never
    * enter (the batch twin's stated rule).
    */
  def transitions(events: Dataset[TransEvent]): Dataset[TransEdge] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("ts").isNotNull)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransEdge](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[TransState]) =>
          val sorted = rows.toSeq
            .sortBy(r => (eventTimeMicros(r.ts), r.event_id))
          val out = Seq.newBuilder[TransEdge]
          var last = state.getOption.map(_.lastType)
          sorted.foreach { r =>
            last.foreach(l => out += TransEdge(userId, l, r.event_type))
            last = Some(r.event_type)
          }
          last.foreach(t => state.update(TransState(t)))
          out.result().iterator
      }
  }

  /** Watermarked streaming exact-dedup — the training-pipeline "drop
    * repeats as they arrive" operator (streaming twin of d1/U3). Keyed on
    * the md5 content digest so only 16-byte keys hit the state store, never
    * documents; the watermark bounds state to the late-data horizon (at
    * 100 TB/day the state is digests-within-horizon, which is why the key
    * must be the hash and not the text). Emits first occurrences only.
    */
  def dedupStream(docs: DataFrame, tsCol: String = "ts",
      textCol: String = "text", watermark: String = "2 hours"): DataFrame =
    docs
      .withColumn("content_digest", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_digest")

  /** Streaming twin of the d14/d15 content-defined-chunking dedup: an
    * arriving document explodes into CDC chunks map-side (the same
    * native [[org.apache.spark.sql.graft.CdcChunks]] expression and
    * constants the batch family uses — deterministic, so stream and
    * batch chunk identically), and dropDuplicatesWithinWatermark on the
    * 16-byte chunk digest emits each chunk's FIRST stream occurrence
    * only — d15's keep-first materialization as continuous ingest.
    * State = chunk digests within the late-data horizon, never text
    * (the [[dedupStream]] scale argument at chunk granularity: at
    * 100 TB/day the store holds digests-within-horizon regardless of
    * corpus size). Downstream, a consumer reassembles cleaned documents
    * from the surviving (doc, idx, chunk) rows exactly as d15 does.
    */
  def cdcDedupStream(docs: DataFrame, tsCol: String = "ts",
      textCol: String = "text", watermark: String = "2 hours"): DataFrame =
    docs
      .select(col("*"), posexplode(
        org.apache.spark.sql.graft.CdcExpressions.cdcChunks(col(textCol),
          graft.queries.DedupQueries.CdcW,
          graft.queries.DedupQueries.CdcMod, 32, withDigest = false))
        .as(Seq("chunk_idx", "chunk")))
      .withColumn("chunk_digest", md5(col("chunk")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("chunk_digest")

  /** Streaming twin of d13's bloom-prefiltered incremental dedup: an
    * arriving document stream checked against a STATIC history — the
    * continuous-ingest front door. The bloom probe
    * ([[org.apache.spark.sql.graft.BloomProbe.mightContain]] — Spark's
    * own runtime-filter expression, codegen'd) runs map-side on every
    * micro-batch with zero state; only bloom hits reach the confirming
    * stream-static LEFT ANTI join against the history digest table
    * (keep the rows NOT in history), so the join probes the hit
    * fraction, not the stream. No false negatives by construction (a
    * missed duplicate is corpus corruption); false positives only cost
    * confirm-join work. Null-text documents have no digest to probe and
    * cannot be duplicates of any history row, so they route to the
    * clean branch explicitly rather than vanishing into a
    * null-predicate filter. Returns the documents CONFIRMED
    * duplicate-free — the rows safe to ingest.
    */
  def bloomDedupStream(docs: DataFrame, historyDigests: DataFrame,
      bloom: Array[Byte], textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graft.BloomProbe
    val withDigest = docs.withColumn("content_digest", md5(col(textCol)))
    val probe = BloomProbe.mightContain(bloom, col("content_digest"))
    val clean = withDigest.filter(col("content_digest").isNull || !probe)
    val candidates = withDigest
      .filter(col("content_digest").isNotNull && probe)
      .join(historyDigests.select(col("content_digest")).distinct(),
        Seq("content_digest"), "left_anti")
    clean.unionByName(candidates)
  }

  /** Streaming frequent terms — the Misra–Gries sketch
    * ([[graft.functions.FreqSketch]]) as a streaming aggregation: the
    * trending-terms job over a live document stream. The typed
    * Aggregator's reduce/merge are the same mergeable-summaries operations
    * the batch query (x14) uses, so every update-mode emission is a valid
    * MG sketch of everything seen so far — the present/underestimate
    * guarantees hold per snapshot — and the state store holds ≤ k
    * counters total, independent of stream length and vocabulary size
    * (the property that makes a frequent-items stream viable at all:
    * exact counts would grow state with the vocabulary).
    */
  def trendingTerms(docs: DataFrame, k: Int,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(explode(graft.functions.TextSketch.words(col(textCol)))
        .as("term"))
      .as[String]
      .groupByKey(_ => 0)
      .agg(graft.functions.FreqSketch.topK(k).toColumn)
      .toDF("group", "sketch")
      .select(explode(col("sketch")).as("e"))
      .select(col("e._1").as("term"), col("e._2").as("est_count"))
  }

  /** Sliding-window distinct active users — streaming twin of
    * w13_sliding_active (WAU side; the dedup state keeps one row per
    * (window, user), which erases WHICH day inside the window a user was
    * first seen, so the DAU/stickiness split stays batch-side). Two
    * chained stateful operators: a watermarked dropDuplicates on
    * (user_id, window) — the streaming analog of the batch twin's
    * per-(window, user) dedup agg, state bounded by users × open
    * windows — then a per-window count emitted when the watermark closes
    * the window. The ×(width/slide) fan-out happens at window
    * assignment, the same constant the batch twin pays in its explode;
    * no COUNT(DISTINCT) and no collect_set ever materializes a user set.
    */
  def slidingActive(events: DataFrame, watermark: String = "1 day",
      width: String = "7 days", slide: String = "1 day"): DataFrame =
    events
      // null-ts rows never enter (same stated rule as the batch twin and
      // the funnel: event-time operators agree on dropping null times)
      .filter(col("ts").isNotNull)
      .withWatermark("ts", watermark)
      .select(col("ts"), col("user_id"),
        window(col("ts"), width, slide).as("w"))
      .dropDuplicates("user_id", "w")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wau"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("wau"))

  /** Watermarked stream-stream interval join — the streaming twin of
    * [[graft.operators.RangeJoin.timeBand]]: pairs (l, r) with equal keys
    * and `r.time ∈ (l.time, l.time + upper]`. Spark keeps both sides in
    * the state store; the watermark plus the range bound let it evict a
    * row once no future match can arrive, so state is bounded by
    * (watermark horizon + range span) × arrival rate — the property that
    * makes the operator viable on unbounded streams. Inner join only
    * (outer interval joins additionally need the watermark to declare a
    * row unmatched). Caller renames right-side column collisions, as with
    * the batch operator; right key columns are dropped from the output.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, upperInclusive: String,
      watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(leftTime, watermark)
    val r = right.withWatermark(rightTime, watermark)
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      r(rightTime) > l(leftTime) &&
      r(rightTime) <= l(leftTime) + expr(s"INTERVAL $upperInclusive")
    keys.foldLeft(l.join(r, cond))((df, k) => df.drop(r(k)))
  }

  final case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
      event_type: String)
  /** Event-time microseconds of each completed stage, oldest first. */
  final case class FunnelProgress(times: List[Long])
  final case class FunnelAdvance(user_id: Long, stage: Int, at_us: Long)

  /** Streaming funnel tracking — the streaming twin of the batch funnel
    * query (w12_funnel): emits `(user, stage, time)` the moment a user
    * advances to funnel stage k, where advancing requires the stage-k
    * event type to arrive after the previous stage's event and within
    * `windowUs` of the FIRST stage's event. Batch recomputes the funnel
    * from scratch per run; this maintains it continuously.
    *
    * State is one `FunnelProgress` per user — at most `stages.length`
    * longs, bounded by user cardinality and never by stream length (a
    * completed or expired funnel could additionally be dropped via a
    * processing-time timeout; kept indefinitely here because the batch
    * twin has no expiry either).
    *
    * Ordering contract matches [[asOfEnrich]]: within a batch rows sort
    * by (ts, event_id-free tiebreak not needed — stage predicates are
    * strict inequalities on distinct event types); across batches the
    * per-key stream must arrive in event-time order (log/CDC replay).
    * Null-timestamp events never enter a funnel (SQL UNKNOWN) — the batch
    * twin (w12_funnel) states the same `ts IS NOT NULL` rule, so the two
    * agree even on corpora with null event times.
    */
  /** One micro-batch of the per-user funnel fold, pure: `times` is the
    * completed-stage times so far, `batch` the user's (event-time, type)
    * rows of this batch in event-time order. Returns the new state and
    * the (stage, time) advances to emit. Factored out of [[funnel]] so
    * the property suite drives the EXACT production fold against an
    * independent naive oracle across arbitrary batch splits.
    */
  private[graft] def funnelFold(times: List[Long],
      batch: Seq[(Long, String)], stages: Seq[String], windowUs: Long)
      : (List[Long], Seq[(Int, Long)]) = {
    val out = Seq.newBuilder[(Int, Long)]
    var ts = times
    batch.foreach { case (t, tpe) =>
      val k = ts.length
      if (k < stages.length && tpe == stages(k)) {
        val admissible =
          if (ts.isEmpty) true
          else t > ts.last && t <= ts.head + windowUs
        if (admissible) {
          ts = ts :+ t
          out += ((ts.length, t))
        }
      }
    }
    (ts, out.result())
  }

  def funnel(events: Dataset[FunnelEvent],
      stages: Seq[String] = Seq("view", "click", "purchase"),
      windowUs: Long = 3L * 24 * 3600 * 1000000L): Dataset[FunnelAdvance] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelAdvance](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[FunnelProgress]) =>
          val sorted = rows.filter(_.ts != null).toSeq
            .map(r => (eventTimeMicros(r.ts), r.event_type))
            .sortBy(_._1)
          val (times, advances) = funnelFold(
            state.getOption.map(_.times).getOrElse(Nil),
            sorted, stages, windowUs)
          if (times.nonEmpty) state.update(FunnelProgress(times))
          advances.iterator
            .map { case (stage, t) => FunnelAdvance(userId, stage, t) }
      }
  }

  final case class AnomalyEvent(event_type: String, ts: java.sql.Timestamp,
      v: Long)
  /** Exact running power sums per event type. `s2Dec` is Σv² as a
    * decimal STRING: cents² products overflow 64 bits at |value| ≈
    * $30.4M (the same bound the batch twin widens for), and a string of
    * the exact integer keeps the state encoder trivial while preserving
    * bit-exactness.
    */
  final case class AnomalyState(n: Long, s1: Long, s2Dec: String)
  final case class ScoredEvent(event_type: String, ts_us: Long, v: Long,
      z: Double, flagged: Boolean)

  /** Streaming anomaly gate — the real-time shape of w15_anomaly: each
    * arriving event is z-scored against its type's EXACT running power
    * sums (n, Σv, Σv² — the mergeable-summaries trio; state is three
    * numbers per event type, never a window of events). The score uses
    * the prefix INCLUDING the event itself — the same
    * `(n·v − s1)/√(n·s2 − s1²)` the batch twin evaluates, over what has
    * arrived so far rather than the whole day: that is the semantics a
    * live gate can actually have (batch re-scores history against final
    * stats; a stream cannot revisit). The two agree on the sums
    * themselves: after any replay, per-type (n, s1, s2) equal the batch
    * aggregate exactly (integer arithmetic, order-free) — pinned by the
    * equivalence spec, along with every per-event score against an
    * independent fold. First event of a type has zero discriminant → z=0,
    * same as the batch twin's degenerate-variance rule. Ordering
    * contract as [[funnel]]: per-key event-time order across batches;
    * within a batch rows sort by event time (null-ts events, which the
    * batch twin also scores, sort first).
    */
  def anomalyStream(events: DataFrame, zThreshold: Double = 3.0)
      : Dataset[ScoredEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        col("ts"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("v"))
      .as[AnomalyEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomalyState, ScoredEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (tpe, rows, state: GroupState[AnomalyState]) =>
          val sorted = rows.toSeq.sortBy(r =>
            Option(r.ts).map(eventTimeMicros).getOrElse(Long.MinValue))
          var st = state.getOption.getOrElse(AnomalyState(0L, 0L, "0"))
          var s2 = BigInt(st.s2Dec)
          val out = Seq.newBuilder[ScoredEvent]
          sorted.foreach { r =>
            val n = st.n + 1
            val s1 = st.s1 + r.v
            s2 += BigInt(r.v) * BigInt(r.v)
            st = AnomalyState(n, s1, st.s2Dec)
            val nD = n.toDouble
            val disc = nD * s2.toDouble - s1.toDouble * s1.toDouble
            val z =
              if (disc <= 0.0) 0.0
              else (nD * r.v.toDouble - s1.toDouble) / math.sqrt(disc)
            out += ScoredEvent(tpe,
              Option(r.ts).map(eventTimeMicros).getOrElse(Long.MinValue),
              r.v, z, math.abs(z) > zThreshold)
          }
          state.update(AnomalyState(st.n, st.s1, s2.toString))
          out.result().iterator
      }
  }

  final case class CohortActivity(user_id: Long, day: java.sql.Date)
  /** Per-user retention state: first-active epoch day + the epoch days
    * already emitted. Bounded by the user's count of DISTINCT active
    * days — a calendar quantity (≤365/year), never stream length; a
    * production deployment with a fixed retention horizon (offsets
    * beyond N days not reported) could additionally drop days older
    * than cohort+N.
    */
  final case class CohortState(cohortEpochDay: Long, seenEpochDays: List[Long])
  final case class CohortAdvance(user_id: Long, cohort_day: java.sql.Date,
      offset_days: Long)

  /** Streaming cohort retention — twin of w11_cohort_retention: emits one
    * `(user, cohort_day, offset_days)` row the first time a user is seen
    * active on a new day, so `GROUP BY cohort_day, offset_days → COUNT(*)`
    * over the emissions IS the batch query's retention grid (each
    * (user, day) pair emits exactly once, mirroring the batch plan's
    * "rows after the dedup are unique (user, day)" argument). Day
    * boundaries come from the engine's own `to_date` BEFORE the stateful
    * fold, so batch and stream bucket timestamps identically under the
    * session timezone.
    *
    * Ordering contract matches [[asOfEnrich]]/[[funnel]]: per-key
    * event-time order across batches (log/CDC replay) — the first day
    * seen is then the true cohort day, the same value the batch twin's
    * window MIN computes. Null-ts events carry no day and never enter
    * (the batch twin surfaces them as null-offset rows; the streaming
    * universe is the non-null one — stated, as for w12/w13).
    */
  def cohortRetention(events: DataFrame): Dataset[CohortAdvance] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("ts").isNotNull)
      .select(col("user_id").cast("long").as("user_id"),
        to_date(col("ts")).as("day"))
      .as[CohortActivity]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CohortState, CohortAdvance](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[CohortState]) =>
          val days = rows.map(_.day.toLocalDate.toEpochDay)
            .toSeq.distinct.sorted
          var st = state.getOption.getOrElse(
            CohortState(days.head, Nil))
          val out = Seq.newBuilder[CohortAdvance]
          days.foreach { d =>
            if (!st.seenEpochDays.contains(d)) {
              st = st.copy(seenEpochDays = d :: st.seenEpochDays)
              out += CohortAdvance(userId,
                java.sql.Date.valueOf(
                  java.time.LocalDate.ofEpochDay(st.cohortEpochDay)),
                d - st.cohortEpochDay)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class SlideActivity(user_id: Long, day: java.sql.Date)
  /** One long per user: the latest active day already folded. The
    * incremental new-window computation below needs nothing older —
    * consecutive days' newly-covered window-ends are disjoint intervals
    * whose union is exactly the covered set, so max-day state suffices
    * where the naive formulation would retain a 7-day set.
    */
  final case class SlideState(maxEpochDay: Long)
  final case class SlideAdvance(user_id: Long, day: java.sql.Date,
      new_windows: Seq[java.sql.Date])

  /** Streaming sliding-active users (advance-stream form; named apart
    * from the windowed [[slidingActive]] above, whose bare-call defaults
    * an overload would shadow) — twin of w13_sliding_active: emits
    * one row per NEW distinct (user, day) carrying the 7-day window-ends
    * that day newly covers for the user (those not already covered by an
    * earlier active day: `[max(d, prev+7), d+6]`). Downstream, over the
    * emissions alone:
    *   - `dau1(w)`  = COUNT(*) of advances with day = w (one per active
    *     user-day, exactly the batch dedup grid);
    *   - `wau7(w)`  = COUNT(*) of exploded new_windows = w (each user
    *     first-covers a window-end exactly once);
    *   - window-ends that are not observed activity days are dropped at
    *     read time by the same observed-day census the batch twin
    *     broadcast-semi-joins (`w IN (SELECT DISTINCT day FROM advances)`)
    *     — a global filter no per-user state could know.
    * Ordering contract matches [[cohortRetention]]: per-key event-time
    * order across batches; a day at or before the folded maximum is a
    * duplicate (or out-of-contract stray) and emits nothing. Null-ts
    * events never enter (stated, as for w11/w12).
    */
  def slidingActiveAdvances(events: DataFrame): Dataset[SlideAdvance] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("ts").isNotNull)
      .select(col("user_id").cast("long").as("user_id"),
        to_date(col("ts")).as("day"))
      .as[SlideActivity]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SlideState, SlideAdvance](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[SlideState]) =>
          val days = rows.map(_.day.toLocalDate.toEpochDay)
            .toSeq.distinct.sorted
          var m = state.getOption.map(_.maxEpochDay)
          val out = Seq.newBuilder[SlideAdvance]
          def date(ep: Long) = java.sql.Date.valueOf(
            java.time.LocalDate.ofEpochDay(ep))
          days.foreach { d =>
            val fresh = m.forall(d > _)
            if (fresh) {
              val lo = m.map(mv => math.max(d, mv + 7)).getOrElse(d)
              out += SlideAdvance(userId, date(d), (lo to d + 6).map(date))
              m = Some(d)
            }
          }
          m.foreach(mv => state.update(SlideState(mv)))
          out.result().iterator
      }
  }

  final case class CarryEvent(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, event_type: String)
  final case class CarryState(lastClickId: Long)
  final case class CarryOut(event_id: Long, user_id: Long,
      event_type: String, last_click_id: Option[Long])

  /** Streaming carry-forward fill — twin of w4_carry_forward (the CDC
    * enrichment shape): every event emits with its user's most recent
    * 'click' event_id, the click itself included (the batch window is
    * UNBOUNDED PRECEDING..CURRENT ROW, so a click carries its own id).
    * State is ONE long per user — bounded by key cardinality exactly
    * like [[asOfEnrich]], and a carry never expires, so no timeout.
    * Ordering contract as the other twins: batches are sorted by
    * (ts, event_id) internally; per-key event-time order across batches.
    * Null-ts events never enter (the batch twin filters them too).
    */
  def carryForwardStream(events: Dataset[CarryEvent]): Dataset[CarryOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("ts").isNotNull)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CarryState, CarryOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[CarryState]) =>
          val sorted = rows.toSeq
            .sortBy(r => (eventTimeMicros(r.ts), r.event_id))
          var carry = state.getOption.map(_.lastClickId)
          val out = Seq.newBuilder[CarryOut]
          sorted.foreach { r =>
            if (r.event_type == "click") carry = Some(r.event_id)
            out += CarryOut(r.event_id, userId, r.event_type, carry)
          }
          carry.foreach(c => state.update(CarryState(c)))
          out.result().iterator
      }
  }

  final case class RollEvent(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, value: Double)
  final case class RollState(lastCents: List[Long])
  final case class RollOut(event_id: Long, user_id: Long,
      roll_value: Double, roll_n: Long)

  /** Streaming sliding-frame rolling sum — twin of w5_moving_sum
    * (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW): every event emits the
    * exact sum of its own value and its user's previous ≤3 values.
    * State is the last ≤3 values per user AS INTEGER CENTS — the frame
    * sum stays exact (order-free longs) and the final double is one
    * correctly-rounded division, the same number the batch twin's
    * DECIMAL(18,2)-sum-then-cast produces. Cent extraction mirrors the
    * batch `cast("decimal(18,2)")` via BigDecimal HALF_UP. Ordering
    * contract as the other twins. Null-ts events never enter HERE but DO
    * enter the batch window (ROWS frames rank nulls first, so they
    * occupy preceding slots of each user's first ≤3 non-null events) —
    * on a corpus with null event times the two universes differ for
    * those rows; a production stream's watermark drops null event times
    * before this operator, which is the contract this twin states.
    */
  def movingSumStream(events: Dataset[RollEvent]): Dataset[RollOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("ts").isNotNull)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RollState, RollOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[RollState]) =>
          val sorted = rows.toSeq
            .sortBy(r => (eventTimeMicros(r.ts), r.event_id))
          var frame = state.getOption.map(_.lastCents).getOrElse(Nil)
          val out = Seq.newBuilder[RollOut]
          sorted.foreach { r =>
            val cents = java.math.BigDecimal.valueOf(r.value)
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .unscaledValue().longValueExact()
            val window = frame :+ cents // ≤3 carried + current
            out += RollOut(r.event_id, userId,
              window.sum / 100.0, window.length.toLong)
            frame = window.takeRight(3)
          }
          state.update(RollState(frame))
          out.result().iterator
      }
  }

  final case class GapActivity(user_id: Long, day: java.sql.Date)
  final case class GapState(epochDay: Long, n: Long)
  final case class GapOut(user_id: Long, day: java.sql.Date, n_events: Long)

  /** Streaming gap-fill resample — twin of w10_gapfill: per-user daily
    * event counts with zero-filled missing days. A day CLOSES when the
    * user's first event of a later day arrives (per-key event-time order
    * across batches, as the other twins): the closed day emits its
    * count, every skipped day in between emits a zero row, and the new
    * day starts counting. The user's final day never closes (append-mode
    * semantics — in production the watermark would flush it; the
    * equivalence spec compares days strictly before each user's last).
    * State is two longs per user (current day + running count); the
    * zero-fill fan-out is bounded by the gap span, exactly the batch
    * plan's per-user `sequence` explode. Null-ts events never enter
    * (the batch calendar join drops them identically). Day boundaries
    * come from the engine's own `to_date` BEFORE the stateful fold, as
    * in [[cohortRetention]], so batch and stream bucket identically.
    */
  def gapfillStream(events: DataFrame): Dataset[GapOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("ts").isNotNull)
      .select(col("user_id").cast("long").as("user_id"),
        to_date(col("ts")).as("day"))
      .as[GapActivity]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GapState, GapOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[GapState]) =>
          val days = rows.map(_.day.toLocalDate.toEpochDay).toSeq.sorted
          def date(ep: Long) = java.sql.Date.valueOf(
            java.time.LocalDate.ofEpochDay(ep))
          var st = state.getOption
          val out = Seq.newBuilder[GapOut]
          days.foreach { d =>
            st match {
              case None => st = Some(GapState(d, 1))
              case Some(GapState(day, n)) if d == day =>
                st = Some(GapState(day, n + 1))
              case Some(GapState(day, n)) if d > day =>
                out += GapOut(userId, date(day), n)
                var gap = day + 1
                while (gap < d) { out += GapOut(userId, date(gap), 0L); gap += 1 }
                st = Some(GapState(d, 1))
              case _ => () // out-of-contract stray: ignore
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  final case class RangeEvent(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, value: Double)
  /** `window` = closed events still inside the trailing hour (ts-micros,
    * cents); `pending` = the newest timestamp's PEER GROUP, unemittable
    * until a strictly later event proves the group complete. State is
    * bounded by the user's events-per-hour — the honest cost of a
    * value-range frame on a stream (a row frame like w5's needs only a
    * fixed-width deque).
    */
  final case class RangeState(window: List[(Long, Long)],
      pending: List[(Long, Long, Long)]) // (event_id, tsUs, cents)
  final case class RangeOut(event_id: Long, user_id: Long,
      hour_value: Double, hour_n: Long)

  /** Streaming RANGE-frame rolling sum — twin of w6_range_frame
    * (trailing 1-hour event-time window per user). RANGE frames are
    * PEER-INCLUSIVE: an event's frame contains every same-timestamp
    * event of its user, including ones that arrive later — so a
    * timestamp's peer group only emits when a strictly LATER event
    * arrives (the final group stays open, append-mode semantics, like
    * [[gapfillStream]]'s final day). Sums are exact integer cents with
    * one correctly-rounded division on emission, bit-exact against the
    * batch DECIMAL path. Ordering and null-ts contracts as the other
    * twins.
    */
  def rangeFrameStream(events: Dataset[RangeEvent],
      frameUs: Long = 3600L * 1000000L): Dataset[RangeOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("ts").isNotNull)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RangeState, RangeOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[RangeState]) =>
          val sorted = rows.toSeq
            .sortBy(r => (eventTimeMicros(r.ts), r.event_id))
          var st = state.getOption.getOrElse(RangeState(Nil, Nil))
          val out = Seq.newBuilder[RangeOut]
          def closePending(): Unit = if (st.pending.nonEmpty) {
            val t = st.pending.head._2
            val kept = st.window.filter(_._1 >= t - frameUs)
            val frameCents = kept.map(_._2).sum + st.pending.map(_._3).sum
            val n = kept.length + st.pending.length
            st.pending.foreach { case (id, _, _) =>
              out += RangeOut(id, userId, frameCents / 100.0, n.toLong)
            }
            st = RangeState(
              kept ++ st.pending.map(p => (p._2, p._3)), Nil)
          }
          sorted.foreach { r =>
            val t = eventTimeMicros(r.ts)
            val cents = java.math.BigDecimal.valueOf(r.value)
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .unscaledValue().longValueExact()
            st.pending.headOption match {
              case Some((_, pt, _)) if t > pt =>
                closePending()
                st = st.copy(pending = List((r.event_id, t, cents)))
              case _ =>
                st = st.copy(pending = st.pending :+ ((r.event_id, t, cents)))
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming quality-classifier scoring — the serving half of x21's
    * batch-trained model (train batch, filter the live ingest stream:
    * the CCNet deployment shape). Stateless append-mode map work: hashed
    * features are built PER ROW with higher-order expressions (the batch
    * trainer's groupBy feature build is an aggregation and thus not
    * stream-safe; O(dim·tokens) per row buys shuffle-freedom), the
    * margin folds in the same fixed index order as training, and
    * Murmur3 `hash` is engine-identical — so scores match the batch
    * [[graft.functions.HashedLogReg.score]] bit-for-bit (spec-pinned).
    *
    * @param texts stream with (doc_id: long, text: string)
    */
  def classifyStream(texts: DataFrame, w: Array[Double], bias: Double)
      : DataFrame = {
    import graft.functions.{HashedLogReg, TextSketch}
    val dim = w.length
    // NULL text tokenizes to NULL, which would poison every downstream
    // higher-order fold into NULL margins; the batch trainer gives such a
    // doc a zero feature vector (margin = bias) — coalesce to keep the
    // documented bit-for-bit batch/stream equality on null-text rows.
    val toks = coalesce(TextSketch.words(col("text")),
      array().cast("array<string>")) // the trainer's tokenizer
    val f = transform(sequence(lit(0), lit(dim - 1)),
      j => size(filter(toks, t => pmod(hash(t), lit(dim)) === j)).cast("long"))
    val wCol = array(w.map(v => lit(v)): _*)
    val margin = aggregate(
      zip_with(f, wCol, (c, wv) => c.cast("double") * wv),
      lit(0.0), (acc, x) => acc + x) + lit(bias)
    texts.select(col("doc_id"), margin.as("margin"))
      .select(col("doc_id"), col("margin"),
        HashedLogReg.sigmoid(col("margin")).as("p"),
        (col("margin") > 0).cast("long").as("predicted"))
  }

  /** Streaming document ingest: a file-source stream of raw texts runs the
    * SAME per-document pipeline as batch (narrow flatMap — append-safe),
    * writing fragment rows continuously. Batch and streaming share
    * [[graft.ingest.IngestPipeline.processDocument]], so ids and outputs
    * are identical for identical inputs.
    */
  def ingestStream(texts: Dataset[graft.ingest.IngestPipeline.DocInput])
      : Dataset[graft.domain.Model.FragmentRow] = {
    val spark = texts.sparkSession
    import spark.implicits._
    texts.flatMap(d =>
      graft.ingest.IngestPipeline.processDocument(d).fragments)
  }

  /** Streaming re-ingest that keeps a persisted IVF-family index current:
    * every micro-batch runs the batch document pipeline, embeds the
    * eligible fragments, and applies an INCREMENTAL index update with the
    * frozen quantizer ([[graft.search.IndexMaintenance.updateIndex]] —
    * O(delta) encode, affected list partitions only, manifest-recoverable
    * swaps). `foreachBatch` is at-least-once, and the update is
    * replace-by-document idempotent, so a replayed batch converges to the
    * index a batch reingest of the same documents produces (spec-pinned,
    * including a torn-swap crash between micro-batches — updateIndex
    * heals it via recover() before applying).
    *
    * The index at `indexPath` must already exist (built by a batch ingest
    * — an index is a derived artifact of a corpus, not something a stream
    * bootstraps from nothing).
    *
    * @param encode index-row encoder, composed with the frozen coarse
    *               quantizer — e.g. `Ivf.buildIndex(_, q)` for IVF, or
    *               `df => Pq.encode(Ivf.buildIndex(df, q), cb)` for IVFPQ.
    */
  def ingestIndexStream(texts: Dataset[graft.ingest.IngestPipeline.DocInput],
      indexPath: String, embedder: graft.embedding.Embedder,
      encode: DataFrame => DataFrame,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    texts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[graft.ingest.IngestPipeline.DocInput], _: Long) =>
          applyIngestBatch(indexPath, embedder, encode, batch)
      }
      .start()

  /** [[ingestIndexStream]]'s HNSW twin: every micro-batch re-ingests its
    * documents and applies a document-cascade update to the persisted
    * graph index, hash-sharded or cluster-routed
    * ([[graft.search.HnswMaintenance.updateIndexByDoc]] — insert-only
    * shards extend their graph in place, replacement shards rebuild, a
    * routed index routes the delta through its frozen router sidecar,
    * manifest-recoverable swaps). Same at-least-once + idempotent-replace
    * convergence argument as the IVF stream; the graph's `ef = n`
    * exactness witness keeps holding after every batch.
    */
  def ingestHnswIndexStream(
      texts: Dataset[graft.ingest.IngestPipeline.DocInput],
      indexPath: String, embedder: graft.embedding.Embedder,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    texts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[graft.ingest.IngestPipeline.DocInput], _: Long) =>
          applyHnswIngestBatch(indexPath, embedder, batch)
      }
      .start()

  /** One micro-batch of [[ingestHnswIndexStream]] — exposed for
    * deterministic replay in specs.
    */
  private[graft] def applyHnswIngestBatch(indexPath: String,
      embedder: graft.embedding.Embedder,
      batch: Dataset[graft.ingest.IngestPipeline.DocInput]): Unit = {
    val spark = batch.sparkSession
    val emb = graft.ingest.IngestPipeline.embeddings(
      graft.ingest.IngestPipeline.fragments(
        graft.ingest.IngestPipeline.process(batch)), embedder).toDF()
    graft.search.HnswMaintenance.updateIndexByDoc(spark, indexPath, emb)
    ()
  }

  /** [[ingestHnswIndexStream]]'s LEXICAL twin: every micro-batch
    * cascade-replaces its documents in the `fragments` table AND appends
    * a postings delta batch + restamps the exact-stats sidecar — `Cli
    * reingest`'s lex maintenance, driven by a stream. Unlike the vector
    * index twins (which maintain a standalone index directory), the
    * lexical artifact is freshness-BOUND to the fragments table by its
    * sidecar fingerprint, so the stream twin must maintain both in the
    * same micro-batch or serving would loudly refuse — the staleness
    * contract working as designed. At-least-once replay converges: the
    * table replace is idempotent by document, and a duplicate delta
    * batch's del∘ins over already-final content is a no-op (LexIndexSpec
    * pins stream ≡ scan fallback ≡ rebuild, through a replay).
    */
  def ingestLexIndexStream(
      texts: Dataset[graft.ingest.IngestPipeline.DocInput],
      tablesDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    texts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[graft.ingest.IngestPipeline.DocInput], _: Long) =>
          applyLexIngestBatch(tablesDir, batch)
      }
      .start()

  /** One micro-batch of [[ingestLexIndexStream]] — exposed for
    * deterministic replay in specs.
    */
  private[graft] def applyLexIngestBatch(tablesDir: String,
      batch: Dataset[graft.ingest.IngestPipeline.DocInput]): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val processed = graft.ingest.IngestPipeline.process(batch)
    // replaced ids come from the DOCUMENTS (a re-ingested document that
    // yields zero eligible fragments must still cascade its old rows out)
    val ids = processed.map(_.document.id).collect().toSeq.distinct
    if (ids.isEmpty) return
    val frags = graft.ingest.IngestPipeline.fragments(processed).toDF()
    graft.ingest.IngestPipeline.replaceDocumentsAt(s"$tablesDir/fragments",
      frags)
    graft.search.LexIndex.appendDelta(spark, tablesDir, ids, frags)
    graft.search.LexIndex.maybeCompact(spark, tablesDir)
    ()
  }

  /** One micro-batch of [[ingestIndexStream]] — exposed for deterministic
    * replay in specs.
    */
  private[graft] def applyIngestBatch(indexPath: String,
      embedder: graft.embedding.Embedder, encode: DataFrame => DataFrame,
      batch: Dataset[graft.ingest.IngestPipeline.DocInput]): Unit = {
    val spark = batch.sparkSession
    val emb = graft.ingest.IngestPipeline.embeddings(
      graft.ingest.IngestPipeline.fragments(
        graft.ingest.IngestPipeline.process(batch)), embedder).toDF()
    // empty micro-batches short-circuit inside updateIndex (no affected
    // lists); non-empty ones touch only the delta's lists
    graft.search.IndexMaintenance.updateIndex(spark, indexPath, emb, encode)
    ()
  }

  /** A document delta carrying its event-time version — the input of
    * [[ingestIndexStreamVersioned]]. `eventTime` orders versions of the
    * same `sourcePath`; the payload fields mirror
    * [[graft.ingest.IngestPipeline.DocInput]].
    */
  final case class VersionedDocInput(sourcePath: String, text: String,
      isOcr: Boolean, eventTime: java.sql.Timestamp)

  /** [[ingestIndexStream]] hardened for OUT-OF-ORDER deltas: a
    * watermarked version stream driving [[graft.search.IndexMaintenance]].
    *
    * `ingestIndexStream` assumes each micro-batch carries at most one
    * version per document and batches arrive in version order — true for
    * a file-source replay, false for any real delta feed (late retries,
    * duplicated producers). Violating it is silently wrong twice over:
    * two versions of one document in a batch BOTH land in the index
    * (cascade replace keys on document, and both rows are "the incoming
    * batch"), and an old version arriving after a newer one clobbers it.
    *
    * This twin closes both with watermark semantics IMPLEMENTED IN THE
    * BATCH HANDLER (a `withWatermark` call would be a no-op ahead of a
    * foreachBatch sink — Spark watermarks only drop rows inside
    * stateful operators, so the horizon must be enforced manually):
    *
    *  - within a micro-batch, only the LATEST version per document is
    *    applied (max eventTime; deterministic text-hash tie-break);
    *  - across batches, an applied-versions LEDGER
    *    (`<indexPath>.versions`: doc_id → max applied version, swapped
    *    crash-safely via [[graft.ingest.TableSwap]] AFTER the index
    *    update commits) refuses any arrival not strictly newer than what
    *    the index already holds — at-least-once replays (equality) and
    *    stragglers (older) are both no-ops;
    *  - the ledger stays BOUNDED by the lateness horizon, not corpus
    *    history: the handler refuses outright anything older than
    *    `latenessSec` behind the newest applied version (the low-water
    *    mark), so ledger entries below that mark can be pruned — at
    *    100 TB the ledger scales with documents active inside the
    *    horizon, not with the corpus.
    *
    * Crash windows converge: the ledger is written only after the index
    * swap, so a crash between them replays the same batch (checkpoint
    * uncommitted), reapplies the same versions (replace-by-document is
    * idempotent), and then writes the ledger.
    */
  def ingestIndexStreamVersioned(docs: Dataset[VersionedDocInput],
      indexPath: String, embedder: graft.embedding.Embedder,
      encode: DataFrame => DataFrame, checkpoint: String,
      latenessSec: Long = 600L): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[VersionedDocInput], _: Long) =>
        applyVersionedIngestBatch(indexPath, embedder, encode,
          latenessSec * 1000000L, batch)
      }
      .start()

  /** [[ingestHnswIndexStream]] hardened for OUT-OF-ORDER deltas — the
    * same versioned protocol as [[ingestIndexStreamVersioned]] (in-batch
    * latest-version-per-document, applied-versions ledger TableSwap'd
    * AFTER the index commit, lateness-bounded low-water mark, idempotent
    * replay), driving [[graft.search.HnswMaintenance.updateIndexByDoc]]
    * instead of the IVF-family encoder. The two streams share one batch
    * handler; only the index-update call differs, so the crash/replay
    * convergence argument carries over verbatim (spec-pinned in
    * HnswMaintenanceSpec with the same batch script as the IVF spec).
    */
  def ingestHnswIndexStreamVersioned(docs: Dataset[VersionedDocInput],
      indexPath: String, embedder: graft.embedding.Embedder,
      checkpoint: String,
      latenessSec: Long = 600L): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[VersionedDocInput], _: Long) =>
        applyVersionedHnswIngestBatch(indexPath, embedder,
          latenessSec * 1000000L, batch)
      }
      .start()

  /** One micro-batch of [[ingestIndexStreamVersioned]] — exposed for
    * deterministic replay in specs.
    */
  private[graft] def applyVersionedIngestBatch(indexPath: String,
      embedder: graft.embedding.Embedder, encode: DataFrame => DataFrame,
      latenessMicros: Long, batch: Dataset[VersionedDocInput]): Unit =
    applyVersionedBatch(indexPath, embedder, latenessMicros, batch) {
      (spark, emb) =>
        graft.search.IndexMaintenance.updateIndex(spark, indexPath, emb,
          encode)
        ()
    }

  /** One micro-batch of [[ingestHnswIndexStreamVersioned]] — exposed for
    * deterministic replay in specs.
    */
  private[graft] def applyVersionedHnswIngestBatch(indexPath: String,
      embedder: graft.embedding.Embedder,
      latenessMicros: Long, batch: Dataset[VersionedDocInput]): Unit =
    applyVersionedBatch(indexPath, embedder, latenessMicros, batch) {
      (spark, emb) =>
        graft.search.HnswMaintenance.updateIndexByDoc(spark, indexPath, emb)
        ()
    }

  /** The shared versioned micro-batch protocol (scaladoc on
    * [[ingestIndexStreamVersioned]]): version-dedupe the batch, refuse
    * stale/below-horizon arrivals via the ledger, run `update` with the
    * fresh documents' embeddings, then commit the ledger.
    */
  private def applyVersionedBatch(indexPath: String,
      embedder: graft.embedding.Embedder,
      latenessMicros: Long, batch: Dataset[VersionedDocInput])(
      update: (SparkSession, DataFrame) => Unit): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // latest version per document WITHIN the batch — deterministic even
    // on duplicate timestamps (text-hash tie-break), so replayed batches
    // always pick the same winner
    val latest = batch.groupByKey(_.sourcePath).reduceGroups { (a, b) =>
      val (ta, tb) =
        (eventTimeMicros(a.eventTime), eventTimeMicros(b.eventTime))
      if (ta > tb) a
      else if (tb > ta) b
      else if (scala.util.hashing.MurmurHash3.stringHash(a.text) >=
        scala.util.hashing.MurmurHash3.stringHash(b.text)) a
      else b
    }.map(_._2)
    if (latest.isEmpty) return

    val ledgerPath = s"$indexPath.versions"
    graft.ingest.TableSwap.recoverSwap(ledgerPath)
    val ledger: DataFrame =
      if (new java.io.File(ledgerPath).isDirectory)
        spark.read.parquet(ledgerPath)
      else Seq.empty[(String, Long)].toDF("doc_id", "ver")
    // low-water mark: `lateness` behind the newest APPLIED version.
    // Arrivals below it are refused outright — which is exactly what
    // makes pruning ledger entries below it sound (any accepted version
    // is >= lwm > every pruned entry, hence strictly newer than it).
    val maxApplied = {
      val m = ledger.agg(max(col("ver"))).head()
      if (m.isNullAt(0)) None else Some(m.getLong(0))
    }
    val lwm = maxApplied.map(_ - latenessMicros).getOrElse(Long.MinValue)
    // applied versions for THIS batch's documents only (delta-sized
    // collect — the HnswMaintenance/IndexMaintenance delta contract)
    val batchDocs = latest.map(_.sourcePath).toDF("doc_id")
    val appliedB = spark.sparkContext.broadcast(
      ledger.join(broadcast(batchDocs), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("ver").cast("long"))
        .as[(String, Long)].collect().toMap)
    val fresh = latest.filter { d =>
      val v = eventTimeMicros(d.eventTime)
      v >= lwm && appliedB.value.get(d.sourcePath).forall(v > _)
    }.persist()
    try {
      if (fresh.isEmpty) return
      val emb = graft.ingest.IngestPipeline.embeddings(
        graft.ingest.IngestPipeline.fragments(
          graft.ingest.IngestPipeline.process(fresh.map(d =>
            graft.ingest.IngestPipeline.DocInput(
              d.sourcePath, d.text, d.isOcr)))), embedder).toDF()
      update(spark, emb)
      // ledger update AFTER the index swap (see crash-window note above):
      // merge the applied versions, advance the low-water mark, prune
      val freshVers = fresh
        .map(d => (d.sourcePath, eventTimeMicros(d.eventTime)))
        .toDF("doc_id", "ver")
      val lwm2 = math.max(lwm,
        freshVers.agg(max(col("ver"))).head().getLong(0) - latenessMicros)
      val merged = ledger.unionByName(freshVers)
        .groupBy("doc_id").agg(max(col("ver")).as("ver"))
        .filter(col("ver") >= lwm2)
        .persist()
      merged.count() // materialize BEFORE the swap unlinks its source
      try {
        if (new java.io.File(ledgerPath).isDirectory)
          graft.ingest.TableSwap.swap(ledgerPath)(staging =>
            merged.write.mode("overwrite").parquet(staging))
        else {
          // first ledger write: no live dir to swap away. Stage-then-move
          // keeps the same crash contract — a crash before the move
          // leaves no ledger, and the replayed batch (checkpoint
          // uncommitted) reapplies idempotently and re-stages.
          val staging = s"$ledgerPath.staging"
          merged.write.mode("overwrite").parquet(staging)
          java.nio.file.Files.move(java.nio.file.Paths.get(staging),
            java.nio.file.Paths.get(ledgerPath))
        }
      } finally { merged.unpersist(); () }
    } finally { fresh.unpersist(); () }
  }
}
