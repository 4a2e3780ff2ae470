package graft.streaming

import graft.operators.Relational
import graft.text.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.HllRegisters
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** Structured Streaming operators over the `events` stream shape
  * (event_id, ts: timestamp, user_id, event_type, value, props).
  *
  * The reference pipeline is batch-only (Airflow DAG reruns); these
  * give the same aggregations incrementally — the shape a 100 TB/day
  * event feed actually needs: watermarked windows (bounded state) and
  * typed session state via flatMapGroupsWithState.
  */
object Streams {

  /** Tumbling-window counts/sums per event_type with a watermark so
    * state is dropped once the window is `lateness` past the max seen
    * event time. */
  def windowedTypeStats(events: DataFrame, window: String = "1 hour",
                        lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** NATIVE session_window sessionization on a streaming feed — the
    * e07 batch form carried verbatim onto a stream: state is one open
    * session struct per ACTIVE user, closed and emitted (Append mode)
    * once the watermark passes the session end + gap. This is the
    * form that ages state out by itself, vs [[sessionize]]'s
    * NoTimeout fold state, which tracks every key ever seen (that one exists to handle late-event
    * merging the native operator doesn't expose). */
  def sessionWindowStats(events: DataFrame, gap: String = "30 minutes",
                         lateness: String = "30 seconds"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Streaming exact dedup: drop repeats of `keyCols` with bounded
    * state — the watermark ages out old keys, which is the only way
    * dedup state survives an unbounded stream. The batch analog is
    * dropDuplicates; the reference's remove_duplicates
    * (create_merged.py:992) is the same idea over a full snapshot. */
  def streamDedup(events: DataFrame, tsCol: String, lateness: String,
                  keyCols: String*): DataFrame =
    events.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols.toSeq)

  /** Watermarked stream-stream interval join: pair each conversion
    * with EVERY preceding trigger by key within `maxDelayMinutes` —
    * the funnel-attribution shape. Both sides carry watermarks and
    * the join condition is time-bounded in BOTH directions, so Spark
    * can expire buffered state; an unbounded stream-stream join would
    * grow state forever.
    *
    * Semantics are deliberately many-to-many: a conversion preceded
    * by several triggers from the same user inside the window emits
    * one row per trigger. Single-touch models are a downstream pick
    * over this output — see [[lastTouch]]. (Spark does not support a
    * stateful aggregation directly after a time-interval stream-stream
    * join, so the pick runs per micro-batch via foreachBatch, or over
    * the materialized output in batch.) */
  def attributionJoin(triggers: DataFrame, conversions: DataFrame,
                      maxDelayMinutes: Int = 30): DataFrame = {
    val t = triggers
      .select(col("user_id"), col("event_id").as("trigger_id"),
        col("ts").as("t_ts"))
      .withWatermark("t_ts", s"$maxDelayMinutes minutes")
    val c = conversions
      .select(col("user_id").as("c_user_id"),
        col("event_id").as("conversion_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", s"$maxDelayMinutes minutes")
    t.join(c,
      col("user_id") === col("c_user_id") &&
        col("c_ts") >= col("t_ts") &&
        col("c_ts") <= col("t_ts") +
          expr(s"interval $maxDelayMinutes minutes"))
      .select(col("user_id"), col("trigger_id"), col("conversion_id"),
        (unix_millis(col("c_ts")) - unix_millis(col("t_ts")))
          .as("delay_ms"))
  }

  /** Last-touch pick over [[attributionJoin]] output: keep, per
    * conversion, the single most recent trigger (minimum delay;
    * trigger_id breaks exact ties). Batch/foreachBatch only — a
    * streaming agg chained after a time-interval join is unsupported
    * by Spark's multiple-stateful-operator rules. */
  def lastTouch(attributed: DataFrame): DataFrame =
    attributed.groupBy("conversion_id")
      .agg(min_by(struct(col("delay_ms"), col("trigger_id"),
        col("user_id")), struct(col("delay_ms"), col("trigger_id")))
        .as("best"))
      .select(col("best.user_id").as("user_id"),
        col("best.trigger_id").as("trigger_id"), col("conversion_id"),
        col("best.delay_ms").as("delay_ms"))

  /** Streaming NEAR-dup signal: the incremental form of the MinHash
    * LSH dedup family (graft.dedup). Each arriving doc computes its
    * LSH band keys ROW-LOCALLY (one codegen'd expression, see
    * [[withBandKeys]] — no corpus-wide shuffle), then
    * `dropDuplicatesWithinWatermark` keeps only first-seen band keys
    * and a windowed count per doc emits how many of its bands were
    * novel: `novel_bands == n bands` → no LSH collision with anything
    * inside the watermark horizon; fewer → near-dup candidate; a FULL
    * duplicate (every band seen before) emits no row at all — absence
    * IS the drop decision. Two chained stateful operators (band-dedup
    * state and the window agg), BOTH bounded by the watermark.
    *
    * Batch analog: Dedup.minhashLshPairs' banding stage; reference
    * analog: remove_duplicates (create_merged.py:992) run as a feed
    * instead of a snapshot. */
  def streamingNearDupSignal(docs: DataFrame, lateness: String,
                             window: String = "1 minute",
                             shingleSize: Int = 3, numHashes: Int = 12,
                             bands: Int = 4): DataFrame =
    // explode the key expression itself: exploding a projected column
    // lets the optimizer infer a non-empty filter on it and push that
    // below the projection, evaluating the band keys three times
    withBandKeys(docs, shingleSize, numHashes, bands)(keys =>
        Seq(col("ts"), col("doc_id"), explode(keys).as("band")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(Seq("band"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("doc_id"))
      .agg(count(lit(1)).as("novel_bands"))
      .select(col("window.start").as("window_start"), col("doc_id"),
        col("novel_bands"))

  /** The near-dup twins' shared prelude: `cols(keys)` per doc, where
    * `keys` is the doc's LSH band-key array from ONE codegen'd
    * expression ([[org.apache.spark.sql.graft.MinhashBandKeys]]:
    * tokens → shingles → md5 minhash → bands in a single pass, equal
    * to the reference chain of [[graft.dedup.Dedup.minhashSignature]]
    * and [[graft.dedup.Dedup.lshBandKeys]]). `keys` is NULL for a
    * shingle-less doc (fewer than shingleSize tokens), so exploding
    * it emits nothing: such a doc MUST drop, since its empty shingle
    * set would otherwise give it the md5('')-derived band keys every
    * other short doc shares, and it would be silently reported as a
    * duplicate of any of them.
    * Mirrors shinglePostings' emit-nothing guard in the batch path. */
  private def withBandKeys(docs: DataFrame, shingleSize: Int,
                           numHashes: Int, bands: Int)(
      cols: Column => Seq[Column]): DataFrame =
    docs.select(cols(org.apache.spark.sql.graft.MinhashBandKeys.of(
      col("text"), shingleSize, numHashes, bands)): _*)

  /** Streaming near-dup IMPACT: [[streamingNearDupSignal]]'s band
    * novelty chained into a windowed d17-style accounting row — per
    * window: docs seen, docs a dedup gate would SUPPRESS (zero novel
    * bands ⇒ every LSH band collided with something earlier inside
    * the watermark horizon), tokens total/suppressed, and the
    * HALF_UP suppressed-tokens ppm — the live twin of the batch
    * d17 impact report, as ONE query.
    *
    * Shape: each eligible doc explodes, in ONE generator over its
    * band keys, into its band-key rows PLUS one MARKER row whose key
    * (`d|doc_id`) is doc-unique, so a single
    * `dropDuplicatesWithinWatermark` passes every marker while
    * keeping only first-seen bands; the first windowed
    * aggregate folds a doc's surviving rows into (novel_bands,
    * ntok) — the marker guarantees a row exists even when ALL bands
    * were dups, which is exactly the doc the impact report must
    * count — and a second window-on-window aggregate
    * (`window(window_time(...))`, the chained-aggregation form)
    * collapses docs into the per-window totals. Three chained
    * stateful operators, all watermark-bounded (band/marker dedup
    * state, per-doc windows, per-window totals). Docs shorter than
    * one shingle are excluded like the signal query (their minhash
    * is undefined); a marker's ntok rides the fold so suppressed
    * token mass needs no second scan of the feed. */
  def streamingNearDupImpact(docs: DataFrame, lateness: String,
                             window: String = "1 minute",
                             shingleSize: Int = 3, numHashes: Int = 12,
                             bands: Int = 4): DataFrame = {
    // one explode per eligible doc: its band keys plus a null slot
    // that becomes the marker row (a short doc's keys are null, so it
    // emits neither); exploding the expression itself keeps the band
    // keys evaluated once per doc (see streamingNearDupSignal)
    val rows = withBandKeys(docs, shingleSize, numHashes, bands)(keys =>
        Seq(col("ts"), col("doc_id"), col("text"), explode(concat(keys,
          array(lit(null).cast("string")))).as("b")))
      .select(col("ts"), col("doc_id"),
        when(col("b").isNull, TextFunctions.tokenCount(col("text")))
          .otherwise(0L).as("ntok"),
        coalesce(concat(lit("b|"), col("b")),
          concat(lit("d|"), col("doc_id").cast("string"))).as("k"),
        col("b").isNotNull.cast("long").as("is_band"))
    val winDur = window
    rows
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(Seq("k"))
      .groupBy(org.apache.spark.sql.functions
          .window(col("ts"), winDur), col("doc_id"))
      .agg(sum("is_band").as("novel_bands"), sum("ntok").as("ntok"))
      .groupBy(org.apache.spark.sql.functions
        .window(window_time(col("window")), winDur).as("w"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("novel_bands") === 0, 1L).otherwise(0L))
          .as("n_suppressed"),
        sum("ntok").as("tokens_total"),
        sum(when(col("novel_bands") === 0, col("ntok"))
          .otherwise(0L)).as("tokens_suppressed"))
      .select(col("w.start").as("window_start"), col("n_docs"),
        col("n_suppressed"), col("tokens_total"),
        col("tokens_suppressed"),
        expr("CASE WHEN tokens_total = 0 THEN 0 ELSE " +
          "CAST((2 * 1000000 * tokens_suppressed + tokens_total) " +
          "DIV (2 * tokens_total) AS BIGINT) END")
          .as("tokens_suppressed_ppm"))
  }

  case class Scored(user_id: Long, item_id: Long, score: Double)
  case class TopKOut(user_id: Long, item_ids: Seq[Long],
                     scores: Seq[Double])

  /** Streaming per-key top-k: state is the current k best
    * (score, item) pairs per key — bounded by construction, emitted
    * on every update (Update output mode). A re-arrival of an item
    * already in state keeps its best score (one slot per item_id, no
    * duplicates in the output lists). The batch analog is the TopKBy
    * bounded-heap aggregate; this is its incremental form.
    *
    * State per key is ≤ k pairs, but the KEY SET itself never
    * expires (NoTimeout): on a stream with unbounded key cardinality
    * total state grows with distinct keys — add a timeout policy (or
    * key TTL upstream) before pointing this at such a feed. */
  def streamingTopK(events: Dataset[Scored], k: Int)
    : Dataset[TopKOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[List[(Double, Long)], TopKOut](
        GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[List[(Double, Long)]]) =>
          val merged =
            (state.getOption.getOrElse(Nil) ++
              rows.map(r => (r.score, r.item_id)))
              .groupBy { case (_, id) => id }
              .valuesIterator.map(_.maxBy { case (s, _) => s }).toList
              .sortBy { case (s, id) => (-s, id) }
              .take(k)
          state.update(merged)
          TopKOut(uid, merged.map(_._2), merged.map(_._1))
      }
  }

  /** The ordered per-key fold behind every stateful operator below
    * that emits per row: group by `key`, sort each micro-batch's rows
    * of a key by `order` (the operator's deterministic replay order),
    * and fold them through `step`, which sees the key, the held state
    * (None before the key's first row), the row and an `emit` sink,
    * and returns the next state — None removes it. Append output and
    * NoTimeout are fixed here, so keys never expire: a key's state
    * lives until its step returns None, and a feed with unbounded key
    * cardinality needs a timeout policy (or key TTL) upstream. */
  private def orderedFold[In, K: Encoder, O: Ordering, S: Encoder,
                          Out: Encoder](in: Dataset[In], key: In => K,
                                        order: In => O)(
      step: (K, Option[S], In, Out => Unit) => Option[S])
    : Dataset[Out] =
    in.groupByKey(key).flatMapGroupsWithState[S, Out](
      OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      (k: K, rows: Iterator[In], state: GroupState[S]) =>
        val out = Seq.newBuilder[Out]
        val emit: Out => Unit = out += _
        rows.toSeq.sortBy(order)
          .foldLeft(state.getOption)((st, r) => step(k, st, r, emit))
          .fold(state.remove())(state.update)
        out.result().iterator
    }

  case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, lastTs: Long, n: Long,
                          sum: Double)
  case class SessionOut(user_id: Long, session_start: Long,
                        session_end: Long, n_events: Long,
                        sum_value: Double)

  /** Gap-based sessionization with explicit state: a user's open
    * session closes, and is emitted, when a later event of the same
    * user arrives more than `gapMs` after the session's last event.
    * There is no timeout and no watermark, so a user's last session
    * is never emitted, however long the user stays silent. State is
    * one small struct per user ever seen. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000)
    : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    orderedFold[Event, Long, Long, List[SessionState], SessionOut](
        events, _.user_id, _.ts.getTime) { (uid, held, e, emit) =>
      val t = e.ts.getTime
      Some(held.getOrElse(Nil) match {
        // late (out-of-order) event: merge into the open session
        // without regressing lastTs, extending start if needed
        case cur :: rest if t <= cur.lastTs =>
          cur.copy(start = math.min(cur.start, t), n = cur.n + 1,
            sum = cur.sum + e.value) :: rest
        case cur :: rest if t - cur.lastTs <= gapMs =>
          cur.copy(lastTs = t, n = cur.n + 1, sum = cur.sum + e.value) ::
            rest
        case cur :: rest =>
          emit(SessionOut(uid, cur.start, cur.lastTs, cur.n, cur.sum))
          SessionState(t, t, 1, e.value) :: rest
        case Nil => SessionState(t, t, 1, e.value) :: Nil
      })
    }
  }

  case class HllObs(group: String, j: Int, rho: Int)
  case class HllOut(group: String, s_scaled: Long, v_empty: Long,
                    n_approx: Long)

  /** Streaming HyperLogLog — the q42 sketch as an incremental
    * operator: state per group is EXACTLY 64 register bytes (the
    * sketch's whole point), merged with max on every batch and
    * re-emitted in Update mode. Because register build and merge are
    * identical to the batch path, the streaming estimate after
    * feeding a corpus EQUALS the batch q42 estimate on the same rows
    * bit-for-bit (spec-pinned) — the sketch is one artifact with two
    * execution modes, not two approximations.
    *
    * Key-set state never expires (NoTimeout), same caveat as
    * [[streamingTopK]]: unbounded group cardinality needs a timeout
    * policy upstream.
    */
  def streamingHll(obs: Dataset[HllObs]): Dataset[HllOut] = {
    import obs.sparkSession.implicits._
    obs.groupByKey(_.group)
      .mapGroupsWithState[Array[Int], (String, Long, Long)](
        GroupStateTimeout.NoTimeout()) {
        case (g, rows, state: GroupState[Array[Int]]) =>
          val regs = state.getOption.getOrElse(new Array[Int](64))
          rows.foreach { o =>
            if (o.rho > regs(o.j)) regs(o.j) = o.rho
          }
          state.update(regs)
          (g, regs.map(m => 1L << (40 - math.min(m, 40))).sum,
            regs.count(_ == 0).toLong)
      }
      .toDF("group", "s_scaled", "v_empty")
      .withColumn("n_approx", HllRegisters.estimate)
      .as[HllOut]
  }

  /** Column derivation for [[streamingHll]] — the shared
    * [[HllRegisters.register]], so the stream builds the same
    * registers from the same values as batch q42. */
  def hllObservations(df: DataFrame, groupCol: String,
                      valueCol: String): Dataset[HllObs] = {
    import df.sparkSession.implicits._
    val (j, rho) = HllRegisters.register(col(valueCol))
    df.select(col(groupCol).cast("string").as("group"),
      j.cast("int").as("j"), rho.cast("int").as("rho"))
      .as[HllObs]
  }

  case class CentEvent(user_id: Long, event_id: Long,
                       ts: java.sql.Timestamp, cents: Long)
  case class MomentState(n: Long, s: Long, q: Long)
  case class OutlierOut(user_id: Long, event_id: Long, cents: Long,
                        n_seen: Long)

  /** ONLINE per-user anomaly detection — the streaming form of batch
    * e12_outliers: state per user is just the exact integer moments
    * (n, Σc, Σc²) — three longs, CONSTANT-size regardless of how long
    * the user's history grows (where a naive approach would buffer
    * the window). Each event folds into the moments in (ts, event_id)
    * order, then tests |x − μ| > 3σ against the history INCLUDING
    * itself via the same pure-integer cross-multiplication as the
    * batch query: (c·n − s)² > 9·(n·q − s²). Flagging starts at
    * n ≥ 20 (no stable baseline before).
    *
    * Semantics note: the batch query judges each event against the
    * FULL window's stats; the online form judges against the trailing
    * history at arrival — the honest streaming semantics (no
    * lookahead). The spec pins the online form against a driver-side
    * replay, not against e12. */
  def streamingOutliers(events: Dataset[CentEvent])
    : Dataset[OutlierOut] = {
    import events.sparkSession.implicits._
    orderedFold[CentEvent, Long, (Long, Long), MomentState, OutlierOut](
        events, _.user_id, r => (r.ts.getTime, r.event_id)) {
      (uid, held, r, emit) =>
        val h = held.getOrElse(MomentState(0L, 0L, 0L))
        val st = MomentState(h.n + 1, h.s + r.cents, h.q + r.cents * r.cents)
        if (st.n >= 20) {
          val num = r.cents * st.n - st.s
          if (num * num > 9L * (st.n * st.q - st.s * st.s))
            emit(OutlierOut(uid, r.event_id, r.cents, st.n))
        }
        Some(st)
    }
  }

  case class ArrEvent(user_id: Long, event_id: Long,
                      ts: java.sql.Timestamp, arrival_ms: Long)
  case class MaxMsState(maxMs: Long)
  case class LateOut(user_id: Long, event_id: Long, arrival_ms: Long,
                     late_ms: Long)

  /** LIVE LATENESS MONITOR — the streaming twin of batch
    * e19_lateness_profile (that row PICKS a watermark delay from a
    * replay; this one WATCHES the live feed so the chosen delay's
    * assumptions are continuously re-validated). Per event the
    * lateness = (per-user running max event-time over ARRIVAL order,
    * excluding self) − own event-time, clamped at 0 — state per user
    * is ONE long, constant regardless of history. Within a batch,
    * rows fold in (arrival_ms, event_id) order — e19's deterministic
    * replay key — so replaying a log through any batch split yields
    * the identical trajectory (spec-pinned). Downstream, the
    * per-event rows roll into tumbling ARRIVAL-time windows counting
    * would-be-dropped events per candidate delay (e19's spine): the
    * monitor windows on arrival, not event time, precisely so the
    * late rows it exists to count can never be watermark-dropped by
    * the monitor itself (arrival is jitter-bounded-monotone, so its
    * own watermark is safe). The watermark attaches AFTER the object
    * boundary, on the re-emitted arrival timestamp (event-time
    * metadata does not survive object-level transforms). */
  def streamingLateness(events: Dataset[ArrEvent],
                        windowLen: String = "1 day",
                        lateness: String = "1 hour"): DataFrame = {
    import events.sparkSession.implicits._
    val perEvent =
      orderedFold[ArrEvent, Long, (Long, Long), MaxMsState, LateOut](
          events, _.user_id, r => (r.arrival_ms, r.event_id)) {
        (uid, held, r, emit) =>
          val ms = r.ts.getTime
          emit(LateOut(uid, r.event_id, r.arrival_ms,
            held.fold(0L)(h => math.max(h.maxMs - ms, 0L))))
          Some(MaxMsState(held.fold(ms)(h => math.max(h.maxMs, ms))))
      }
    val delays = Seq(0L, 600000L, 3600000L, 10800000L, 21600000L)
    val aggs = count(lit(1)).cast("long").as("n_events") +:
      max("late_ms").cast("long").as("max_late_ms") +:
      delays.map(dl =>
        sum(when(col("late_ms") > dl, 1L).otherwise(0L))
          .cast("long").as(s"n_$dl"))
    perEvent
      .withColumn("arr_ts", timestamp_millis(col("arrival_ms")))
      .withWatermark("arr_ts", lateness)
      .groupBy(org.apache.spark.sql.functions.window(col("arr_ts"),
        windowLen))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("window_start") +:
        col("n_events") +: col("max_late_ms") +:
        delays.map(dl => col(s"n_$dl")): _*)
  }

  case class PhState(n: Long, sum: Long, m: Double, mMin: Double)
  case class DriftOut(user_id: Long, event_id: Long, n_seen: Long,
                      ph: Double)

  /** ONLINE mean-shift drift detection — the streaming counterpart
    * of batch e14_changepoint, via the Page–Hinkley test (public
    * method; PH is the ONLINE member of the CUSUM family — e14's
    * offline argmax needs the whole series, PH monitors the same
    * cumulative-deviation signal with CONSTANT per-key state):
    * m_k += x_k − mean_k − δ, alarm when m_k − min(m_i) > λ. State
    * per user is four fixed fields (n, Σx as exact cents, m, min m)
    * regardless of history length. Within a batch, rows fold in
    * (ts, event_id) order — replaying a log yields exactly the
    * sequential PH trajectory (spec-pinned across batch boundaries).
    * The running mean is double arithmetic in a DETERMINISTIC fold
    * order (per-key sequential), so outputs are replay-stable; the
    * emitted score rounds to 4 dp. No post-alarm reset (each
    * super-threshold event emits — downstream chooses a cooldown). */
  def streamingDrift(events: Dataset[CentEvent], delta: Double = 50.0,
                     lambda: Double = 5000.0): Dataset[DriftOut] = {
    import events.sparkSession.implicits._
    orderedFold[CentEvent, Long, (Long, Long), PhState, DriftOut](
        events, _.user_id, r => (r.ts.getTime, r.event_id)) {
      (uid, held, r, emit) =>
        pageHinkley(held, r.cents, delta, lambda)((n, ph) =>
          emit(DriftOut(uid, r.event_id, n, ph)))
    }
  }

  /** One Page–Hinkley step of [[streamingDrift]] and
    * [[streamingDriftByType]]: folds `cents` into the held state and
    * calls `alarm(n_seen, score)` when m − min m exceeds `lambda`,
    * the score rounded to 4 dp. */
  private def pageHinkley(held: Option[PhState], cents: Long,
                          delta: Double, lambda: Double)(
      alarm: (Long, Double) => Unit): Option[PhState] = {
    val st = held.getOrElse(PhState(0L, 0L, 0.0, 0.0))
    val n = st.n + 1
    val s = st.sum + cents
    val m = st.m + (cents - s.toDouble / n - delta)
    val mMin = math.min(st.mMin, m)
    if (m - mMin > lambda) alarm(n, math.rint((m - mMin) * 1e4) / 1e4)
    Some(PhState(n, s, m, mMin))
  }

  case class TypedCentEvent(user_id: Long, event_id: Long,
                            ts: java.sql.Timestamp, event_type: String,
                            cents: Long)
  case class TypedDriftOut(user_id: Long, event_type: String,
                           event_id: Long, n_seen: Long, ph: Double)

  /** [[streamingDrift]] PARAMETERIZED PER EVENT TYPE (the round-10
    * follow-up): a purchase feed and a click feed drift on different
    * scales, so one global (δ, λ) either over-alarms the noisy type
    * or misses the quiet one. Keyed by (user, type) — each key holds
    * its own constant four-field PH state — with per-type (δ, λ)
    * resolved from a PLAN-CONSTANT map (closure-captured; type
    * cardinality is bounded, the map ships once per task, no join).
    * Fold semantics per key are IDENTICAL to [[streamingDrift]]
    * (same (ts, event_id) order, same [[pageHinkley]] step). */
  def streamingDriftByType(events: Dataset[TypedCentEvent],
                           params: Map[String, (Double, Double)],
                           defaultDelta: Double = 50.0,
                           defaultLambda: Double = 5000.0)
    : Dataset[TypedDriftOut] = {
    import events.sparkSession.implicits._
    orderedFold[TypedCentEvent, (Long, String), (Long, Long), PhState,
        TypedDriftOut](events, e => (e.user_id, e.event_type),
        r => (r.ts.getTime, r.event_id)) {
      case ((uid, typ), held, r, emit) =>
        val (delta, lambda) =
          params.getOrElse(typ, (defaultDelta, defaultLambda))
        pageHinkley(held, r.cents, delta, lambda)((n, ph) =>
          emit(TypedDriftOut(uid, typ, r.event_id, n, ph)))
    }
  }

  case class DebounceState(lastMs: Long)
  case class DebounceOut(user_id: Long, event_type: String,
                         event_id: Long, kept: Boolean)

  /** ONLINE debounce — batch e16_debounce's streaming twin (the
    * e12/e14/q58 batch↔stream pairing): per (user, event_type), an
    * event is KEPT iff it arrives ≥ `cooldownMs` after its
    * PREDECESSOR (kept or not — gap-vs-predecessor, exactly the
    * batch lag semantics, so replaying a log reproduces e16's
    * accounting; spec-pinned). State is ONE long per key — the last
    * event's timestamp — regardless of history length. Emits every
    * event with its kept/suppressed flag; downstream filters kept
    * events or aggregates burst stats in Update mode. */
  def streamingDebounce(events: Dataset[TypedEvent],
                        cooldownMs: Long = 3600000L)
    : Dataset[DebounceOut] = {
    import events.sparkSession.implicits._
    orderedFold[TypedEvent, (Long, String), (Long, Long), DebounceState,
        DebounceOut](events, e => (e.user_id, e.event_type),
        r => (r.ts.getTime, r.event_id)) {
      case ((uid, typ), last, r, emit) =>
        val ms = r.ts.getTime
        emit(DebounceOut(uid, typ, r.event_id,
          last.forall(l => ms - l.lastMs >= cooldownMs)))
        Some(DebounceState(ms))
    }
  }

  case class SnapOp(seq: Long, user_id: Long, op: String,
                    n_new: Option[Long], s_new: Option[Long])
  case class SnapState(n_events: Long, sum_cents: Long)
  case class SnapOut(user_id: Long, seq: Long, op: String,
                     n_events: Long, sum_cents: Long, live: Boolean)

  /** STREAMING SNAPSHOT MAINTENANCE — batch q67's twin and the
    * apply_operations.py loop as a stateful stream: an
    * insert/update/delete op feed (updates carry ONLY changed
    * fields, None = unchanged — the ES partial-`doc` contract) folds
    * into a per-key maintained snapshot. State is ONE (n, sum) pair
    * per live key — the snapshot row itself, constant-size per key;
    * a delete removes the state outright, so the store holds exactly
    * the live snapshot. Each applied op emits the post-apply row
    * (live = false tombstones a delete); the CURRENT snapshot is the
    * last emission per key with live = true — replaying
    * insert-everything + the q14/q67 diff ops reproduces the batch
    * apply EXACTLY (spec-pinned: closure, streamed). Ops fold in
    * `seq` order within a batch so replays are deterministic. Keys
    * never expire (the snapshot is the product — state size IS
    * snapshot size, the honest minimum). */
  def streamingSnapshotApply(ops: Dataset[SnapOp])
    : Dataset[SnapOut] = {
    import ops.sparkSession.implicits._
    orderedFold[SnapOp, Long, Long, SnapState, SnapOut](
        ops, _.user_id, _.seq) { (uid, cur, o, emit) =>
      o.op match {
        case "delete" =>
          emit(SnapOut(uid, o.seq, o.op, 0L, 0L, live = false))
          None
        case op =>
          // insert sets both fields; update coalesces onto the held
          // row — None keeps the current value
          val base = cur.getOrElse(SnapState(0L, 0L))
          val next = SnapState(o.n_new.getOrElse(base.n_events),
            o.s_new.getOrElse(base.sum_cents))
          emit(SnapOut(uid, o.seq, op, next.n_events, next.sum_cents,
            live = true))
          Some(next)
      }
    }
  }

  /** STREAMING CDC APPLY — the live half of the q14/q67/q68 snapshot
    * trio and the actual shape of the reference's continuous
    * update-the-index loop: an op feed (insert/update/delete, updates
    * carrying ONLY changed fields) maintains the snapshot by folding
    * every micro-batch through THE SAME bodies the batch queries run
    * — [[graft.Queries.compactOps]] nets the batch's multi-op-per-key
    * slice to one op per key, [[graft.Queries.applyOps]] folds the
    * net ops onto the held snapshot — one shared implementation, so
    * batch, stream and spec can't drift. Drive it with the
    * foreachBatch sink: `ops.writeStream.foreachBatch(m.foldBatch _)`.
    *
    * State is the snapshot itself — the honest minimum (the product
    * IS the state), bounded by LIVE KEY COUNT, never by history:
    * each fold ends in an eager localCheckpoint (the CLAUDE.md
    * iterative-loop rule — the logical plan stays one batch deep)
    * and the PREVIOUS snapshot's checkpoint blocks are released, so
    * a feed running for months holds exactly one snapshot copy. (A
    * production deployment would make the snapshot a table write in
    * the same foreachBatch — this maintainer is that loop with the
    * table kept in the block manager.)
    *
    * No engine-side stateful operator, hence no watermark: the fold
    * is deterministic given batch contents. The delivery contract is
    * CDC's — per-key ops arrive seq-nondecreasing ACROSS batches
    * (any order WITHIN a batch; compactOps nets by seq), the same
    * declared caveat as [[streamingTransitions]]. Spec-pinned: after
    * every batch boundary the held snapshot equals the strict-ES
    * sequential replay of the whole op prefix, including the hostile
    * split that lands post-delete updates in a later batch. */
  final class SnapshotMaintainer(spark: SparkSession) {
    import org.apache.spark.sql.types._
    @volatile private var snap: DataFrame = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("user_id", LongType),
        StructField("n_events", LongType),
        StructField("sum_cents", LongType))))
    /** The maintained snapshot as of the last completed fold. */
    def current: DataFrame = snap
    def foldBatch(batch: DataFrame, batchId: Long): Unit =
      synchronized {
        val net = graft.Queries.compactOps(
          batch.select("user_id", "seq", "op", "n_new", "s_new"))
        val old = snap
        snap = graft.Queries.applyOps(old, net)
          .localCheckpoint(eager = true)
        // release the superseded snapshot's checkpoint blocks — an
        // unbounded-batch feed must hold ONE snapshot copy, not one
        // per batch (the graph loops skip this only because their
        // round counts are bounded)
        old.queryExecution.analyzed match {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.rdd.unpersist(false)
          case _ => ()
        }
      }
  }

  def streamingApplyOps(spark: SparkSession): SnapshotMaintainer =
    new SnapshotMaintainer(spark)

  case class TypedEvent(user_id: Long, event_id: Long,
                        ts: java.sql.Timestamp, event_type: String)
  case class LastEvent(ms: Long, event_id: Long, event_type: String)
  case class TransOut(user_id: Long, prev: String, next: String)

  /** ONLINE event-type transitions — the streaming form of batch
    * q58_markov's pair extraction: state per user is just the LAST
    * event seen ((ms, event_id, type) — constant-size regardless of
    * history length), each arriving event emits one (prev, next)
    * transition row against it. Within a batch, rows fold in
    * (ts, event_id) order — the same total order as the batch lag
    * window, so replaying a log through this operator yields
    * EXACTLY the batch query's transition multiset (spec-pinned);
    * a downstream `groupBy(prev, next).count()` in Update mode
    * maintains the live transition matrix.
    *
    * Late-data caveat (declared): an event older than its user's
    * stored last event still transitions FROM that stored state —
    * the online no-lookahead semantics; batch equivalence holds
    * when per-user arrival respects event-time order (true of a
    * replayed log, approximately true of a live feed). */
  def streamingTransitions(events: Dataset[TypedEvent])
    : Dataset[TransOut] = {
    import events.sparkSession.implicits._
    orderedFold[TypedEvent, Long, (Long, Long), LastEvent, TransOut](
        events, _.user_id, r => (r.ts.getTime, r.event_id)) {
      (uid, last, r, emit) =>
        last.foreach(l => emit(TransOut(uid, l.event_type, r.event_type)))
        Some(LastEvent(r.ts.getTime, r.event_id, r.event_type))
    }
  }

  /** Streaming MINUTE BARS — batch e17/e18's associative bar algebra
    * on a live tick feed: one watermarked tumbling-minute aggregate
    * per (event_type, minute), emitting exactly e18's minute-bar
    * schema (n/volume/low/high + open/close as `min_by`/`max_by` over
    * the packed within-hour tick key, PLUS the bar's own min/max tick
    * keys) — so downstream hour/day views re-aggregate these bars
    * with the same fold and land bit-identical to the batch bars.
    * Because every field is an associative fold with a total-order
    * key, the result is INDEPENDENT of how the feed is split into
    * micro-batches (spec-pinned across arbitrary splits); state is
    * one in-flight bar per (type, minute) inside the watermark
    * horizon — constant per key, aged out automatically.
    *
    * Input columns: ts (timestamp), event_id, event_type, value.
    * Output: (event_type, minute, n_events, volume_cents, low, high,
    * min_k, max_k, open, close). */
  def streamingMinuteBars(events: DataFrame,
                          lateness: String = "1 minute"): DataFrame =
    Relational.ticks(events.withWatermark("ts", lateness))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"),
        "1 minute"), col("event_type"))
      .agg(Relational.barAggs.head, Relational.barAggs.tail: _*)
      .select(col("event_type"),
        floor(unix_millis(col("window.start")) / 60000L).as("minute"),
        col("n_events"), col("volume_cents"), col("low"), col("high"),
        col("min_k"), col("max_k"), col("open"), col("close"))

  /** STREAMING CLASSIFY — the SERVE half of the t24/t25 NB pair
    * (train batch, filter the live feed): each arriving document is
    * scored ROW-LOCALLY against the trained weight table — t24's
    * 65-row output passed as a Scala map, bounded by the width
    * CONSTANT, so it rides into the plan as an array literal and
    * never becomes a join. The score is the same exact integer sum
    * as batch t25 (Σ w_micro[bucket(tok)] + prior; micro-unit
    * BIGINTs, so no float-order nondeterminism), predict on
    * score ≥ 0. Stateless: one projection, zero shuffles, zero
    * state — the cheap gate a live ingestion feed runs before
    * anything heavier sees the doc. Spec pins streamed predictions
    * == the same scorer applied batch == t25's n_correct. */
  /** The exact NB score column [[streamingClassify]] and batch t25
    * use — exposed so compositions reuse the identical scorer. */
  def nbScoreCol(text: org.apache.spark.sql.Column,
                 weights: Map[Long, Long],
                 priorMicro: Long): org.apache.spark.sql.Column = {
    val wArr = array((0 until 64).map(b =>
      lit(weights.getOrElse(b.toLong, 0L))): _*)
    aggregate(
      transform(TextFunctions.tokens(text),
        t => element_at(wArr,
          (TextFunctions.hashBucket(t, 64) + lit(1))
            .cast("int"))),
      lit(priorMicro), (acc, x) => acc + x)
  }

  def streamingClassify(docs: DataFrame, weights: Map[Long, Long],
                        priorMicro: Long): DataFrame = {
    val score = nbScoreCol(col("text"), weights, priorMicro)
    docs.select(col("doc_id"), score.as("score_micro"),
      (score >= 0L).cast("int").as("pred"))
  }

  /** COMPOSED live pipeline — the gate and both monitors CHAINED as
    * ONE streaming query, the shape a real ingestion feed runs
    * (round-9 advice #7): [[streamingClassify]]'s stateless NB gate
    * admits a document (score ≥ 0), and only ADMITTED documents feed
    * the two monitor sketches — t26's per-source drift cells and
    * t12's count-min. Spark allows one streaming aggregation per
    * query, so the two bounded cell tables ride a single Update-mode
    * aggregate over a TAGGED UNION of their coordinate spaces
    * (('drift', source, bucket) ∪ ('cm', row, cell)) — same running
    * sums, one state store, state bounded by
    * |sources|·driftWidth + cmDepth·cmWidth keys TOTAL regardless of
    * feed size, each micro-batch collapsing map-side to ≤ that many
    * deltas. Cells are pure sums over a row-local gate, so the
    * maintained table is split-independent and a full replay lands
    * EXACTLY on the batch composition (spec-pinned): batch-score →
    * filter → the twins' own cell derivations. */
  def streamingGatedMonitor(docs: DataFrame,
                            weights: Map[Long, Long],
                            priorMicro: Long,
                            driftWidth: Int = 64,
                            cmDepth: Int = 4,
                            cmWidth: Int = 16): DataFrame = {
    val gated = docs
      .filter(nbScoreCol(col("text"), weights, priorMicro) >= 0L)
    val drift = TextFunctions.sourceCells(gated, driftWidth)
      .select(lit("drift").as("kind"), col("source").as("k1"),
        col("b").cast("string").as("k2"))
    val cm = TextFunctions.countMinCells(gated, cmDepth, cmWidth)
      .select(lit("cm").as("kind"), col("r").cast("string").as("k1"),
        col("cell").cast("string").as("k2"))
    drift.unionByName(cm).groupBy("kind", "k1", "k2")
      .agg(count(lit(1)).as("c"))
  }

  /** STREAMING COUNT-MIN — batch t12's pure-sketch pipeline as an
    * incremental Update-mode aggregate over a document feed: tokens
    * → (r, cell) running counts, identical cell derivation
    * ([[TextFunctions.countMinCell]], 4 rows × 16
    * counters). The state store IS the sketch — at most depth×width
    * = 64 keys TOTAL regardless of feed size, and partial
    * aggregation collapses each micro-batch map-side to ≤64 cell
    * deltas before they touch state. Cells are pure sums, so the
    * maintained sketch is independent of how the corpus is split
    * into micro-batches and a full replay lands EXACTLY on batch
    * t12's table (spec-pinned across arbitrary uneven splits).
    * Point-query the live sketch as `min` of a token's depth cells;
    * no watermark needed — the aggregate is keyed by sketch
    * coordinates, not event time, and its state never grows. */
  def streamingCountMin(docs: DataFrame, depth: Int = 4,
                        width: Int = 16): DataFrame =
    TextFunctions.countMinCells(docs, depth, width)
      .groupBy("r", "cell").agg(count(lit(1)).as("cnt"))

  /** STREAMING SOURCE-DRIFT CELLS — the live half of batch t26's
    * per-source KL audit: maintains the (source, bucket) token-count
    * table as an Update-mode running aggregate over a document feed.
    * The state store IS t26's bounded cell table — at most
    * |sources|·64 keys regardless of feed size, each micro-batch
    * collapsing map-side to ≤ |sources|·64 deltas before touching
    * state (the streamingCountMin economics with a supervised key).
    * Cells are pure sums, so the maintained table is independent of
    * micro-batch splits and a full replay lands EXACTLY on the cell
    * table batch t26 derives its marginals from (spec-pinned); the
    * KL itself is 64 rows of arithmetic per source, read off the
    * live table whenever the monitor fires. Bucket derivation is
    * shared ([[TextFunctions.hashBucket]]) so the DuckDB
    * oracle keeps mirroring the batch twin. */
  def streamingSourceDrift(docs: DataFrame,
                           width: Int = 64): DataFrame =
    TextFunctions.sourceCells(docs, width)
      .groupBy("source", "b").agg(count(lit(1)).as("c"))

  /** STREAMING FRAME ENERGY — batch m04's media-ingest twin on a
    * live feed, completing the multimodal family's streaming arc:
    * each arriving payload fans out to its frames INSIDE the same
    * STATELESS per-partition decode boundary batch m04 uses
    * ([[graft.multimodal.Multimodal.Decoder.frames]] — a real 16-bit
    * PCM WAV decodes to 64-sample windows with Σs² energy, anything
    * else to 64-byte Σb² windows), then ONE watermark-windowed
    * per-media fold reassembles the frame rows into m04's aggregate
    * columns. Every frame row carries its media's single event time,
    * so each media lands in exactly one window and emits exactly
    * once in Append mode when the watermark passes. Frame RMS and
    * media RMS are the same exact-integer corrected-isqrt
    * milli-units as batch m04 — replay lands row-for-row on the
    * batch composition (spec-pinned, split-independent). State =
    * in-flight windows only; payload bytes never survive the decode
    * boundary (~40 B/frame is what the fold sees).
    *
    * Input: (ts, media_id, payload). Output per media: mime,
    * n_frames, n_silent, max_energy, total_energy, total_units,
    * rms_milli. */
  def streamingFrameEnergy(media: DataFrame,
                           lateness: String = "1 minute"): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("mime",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_units",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("energy",
          org.apache.spark.sql.types.LongType))))
    val frames = media
      .select(col("ts"), col("media_id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val ts = r.getAs[java.sql.Timestamp]("ts")
          val id = r.getAs[Long]("media_id")
          graft.multimodal.Multimodal.Decoder
            .frames(r.getAs[Array[Byte]]("payload")).map {
              case (mime, _, n, e) =>
                org.apache.spark.sql.Row(ts, id, mime, n, e)
            }
        }
      }(enc)
      // watermark AFTER the decode: event-time metadata does not
      // survive an object-level mapPartitions, so tag the re-emitted
      // ts column (each media's frames share one event time)
      .withWatermark("ts", lateness)
    graft.multimodal.Multimodal.frameEnergy(frames,
      window(col("ts"), "1 minute"))
  }

  /** STREAMING TARGET-LM SCORING — the serve half of batch t27 (the
    * second-stage quality gate a live feed runs after the cheap
    * [[streamingClassify]] pass): each arriving document's char
    * trigrams score against the STATIC trained model tables via
    * stream-static left joins — STATELESS joins (the model is a
    * fixed relation; Spark broadcasts it under the same AQE size
    * decision as batch t27), so the only state is the watermark-
    * windowed per-doc fold that reassembles trigram rows into one
    * scored row per document (every trigram row carries its doc's
    * single event time, so each doc lands in exactly one window and
    * emits exactly once in Append mode when the watermark passes).
    * Scoring is the SAME exact integer arithmetic as batch t27
    * (seen / bigram-backoff / floor micro-nat cases, BIGINT sums) —
    * spec pins replayed per-doc rows == batch t27 on the same
    * corpus, split-independent.
    *
    * Input: (ts, doc_id, text). Output per doc: n_tris, n_unseen,
    * sum_lp_micro — the filter decision columns. */
  def streamingTargetLm(docs: DataFrame, triLp: DataFrame,
                        biLp: DataFrame,
                        lpFloor: org.apache.spark.sql.Column,
                        lateness: String = "1 minute"): DataFrame =
    graft.Queries.charTris(docs.withWatermark("ts", lateness))
      .join(triLp, Seq("tri"), "left")
      .withColumn("bi", shiftrightunsigned(col("tri"), 21))
      .join(biLp, Seq("bi"), "left")
      .select(col("ts"), col("doc_id"),
        coalesce(col("lp_seen"), col("lp_bi"), lpFloor).as("lp"),
        when(col("lp_seen").isNull, 1L).otherwise(0L).as("unseen"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"),
        "1 minute"), col("doc_id"))
      .agg(count(lit(1)).as("n_tris"),
        sum("unseen").cast("long").as("n_unseen"),
        sum("lp").cast("long").as("sum_lp_micro"))
      .select(col("doc_id"), col("n_tris"), col("n_unseen"),
        col("sum_lp_micro"))
}
