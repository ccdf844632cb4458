package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Streaming operators over the `events` table.
  *
  * Two faces, one semantics:
  *   - [[queries]] run the window logic in BATCH over the parquet fixture
  *     (time windows are pure event-time functions, so batch and stream
  *     agree), giving the driver's DuckDB oracle something to check;
  *   - the `streaming*` methods apply the SAME transformations to an
  *     unbounded DataFrame (`readStream`/MemoryStream) with watermarks for
  *     state eviction — exercised in EventStreamsSpec.
  *
  * Scale design: windowed aggregation state is per (window x key), evicted
  * by watermark; dedup state is bounded by the watermark horizon
  * (`dropDuplicatesWithinWatermark`); session windows use Spark's built-in
  * session_window merge — all shuffle once on the grouping key.
  */
object EventStreams {

  private val money = org.apache.spark.sql.types.DecimalType(12, 2)
  private def dsum(c: Column) = round(sum(c.cast(money)), 2).cast("double")

  // -- shared transformations (batch == stream) ---------------------------

  /** Tumbling 1-hour counts per event_type. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total_value"))

  /** Sliding 1-hour windows every 30 minutes, global event counts. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("n"), col("total_value"))

  /** Session windows per user with a 30-minute inactivity gap. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))

  // -- batch query entries (DuckDB-checkable) -----------------------------

  /** st1_tumbling — tumbling-window counts; in batch the window is just
    * date_trunc, which is exactly what the oracle mirrors. */
  def st1Tumbling(s: SparkSession, dir: String): DataFrame =
    tumblingAgg(Tables.events(s, dir))
      .orderBy(col("window_start"), col("event_type"))

  /** st2_sliding — each event lands in exactly two 1h/30m windows; the
    * oracle mirrors via time_bucket(30m) and its 30m-earlier twin. */
  def st2Sliding(s: SparkSession, dir: String): DataFrame =
    slidingAgg(Tables.events(s, dir))
      .orderBy(col("window_start"))

  /** st3_session — sessionization; the oracle mirrors with the classic
    * gaps-and-islands rewrite (lag + cumulative flag sum). Sessions are
    * numbered per user by start time so no raw timestamps are output
    * (ns-vs-µs print differences, SURVEY.md §7.4). */
  def st3Session(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("w.start"))
    sessionAgg(Tables.events(s, dir))
      .withColumn("session_idx", row_number().over(w))
      .select(col("user_id"), col("session_idx"), col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** st4_attribution — LAST-TOUCH ATTRIBUTION in batch: each purchase is
    * credited to the same user's most recent click at-or-before it,
    * provided that click is within 30 minutes; otherwise unattributed
    * (null). The batch face of the stream-stream join family (the
    * streaming band join in [[streamingStreamJoin]] emits all pairs in
    * the band; attribution picks the latest).
    *
    * Shape is the scalable as-of pattern (q15): dedupe clicks per
    * (user, ts) for deterministic ties, tag + union both sides, ONE
    * shuffle on user_id, one window carrying the last click forward,
    * keep purchase rows, apply the 30-minute band as a post-filter.
    * No range cross-join at any scale. Oracle: DuckDB native ASOF LEFT
    * JOIN with the same dedupe and band filter. */
  def st4Attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("t"))
      .agg(max(col("event_id")).as("click_id"))
      .select(col("user_id"), col("t"), lit(0).as("is_purchase"),
        col("click_id"), lit(null).cast("long").as("purchase_id"),
        lit(null).cast("double").as("value"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("t"), lit(1).as("is_purchase"),
        lit(null).cast("long").as("click_id"),
        col("event_id").as("purchase_id"), col("value"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("t"), col("is_purchase")) // same-instant click sorts first
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("last_click_t",
        last(when(col("click_id").isNotNull, col("t")), ignoreNulls = true).over(w))
      .where(col("is_purchase") === 1)
      .select(col("purchase_id"), col("user_id"),
        when(col("last_click_t") >= col("t") - expr("INTERVAL 30 MINUTES"),
          col("last_click_id")).as("click_id"),
        col("value"))
      .orderBy(col("purchase_id"))
  }

  // -- true streaming entry points (used by EventStreamsSpec) -------------

  /** Streaming tumbling aggregation with a watermark for state eviction;
    * append-mode emits each window once it is below the watermark. */
  def streamingTumbling(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    tumblingAgg(events.withWatermark("ts", watermark))

  /** Streaming dedup by event_id with bounded state. */
  def streamingDedup(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming sessionization (session_window + watermark). */
  def streamingSessions(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))

  /** Stream-stream join: two unbounded streams joined on key within an
    * event-time band. Both sides are watermarked and the join condition
    * bounds how long either side's state is retained — without the time
    * band the state store would grow forever. Inner join emits as soon
    * as both sides arrive.
    *
    * The watermark is the deployment's state/latency lever: retention is
    * watermark + band, so tightening it shrinks state AND wall time
    * roughly linearly (NOTES.md "Round-10 changes" item 5, 2M events on
    * the engine-default RocksDB store: 1 h → 254 s / 100k peak state
    * rows; 10 min → 197 s / 62k). Set it to the pipeline's real
    * late-data tolerance, no wider. */
  def streamingStreamJoin(clicks: DataFrame, purchases: DataFrame,
                          watermark: String = "1 hour"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("click_id"), col("purchase_id"), col("user_id"), col("value"))
  }

  /** Stream-static enrichment: the unbounded event stream joined to a
    * static dimension (re-read per micro-batch; Catalyst broadcasts the
    * dim side, so the stream never shuffles for the join). The standard
    * way a pipeline attaches user/customer attributes at 100 TB. */
  def streamingEnriched(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), events("user_id") === dim("c_custkey"), "left_outer")
      .select(events("event_id"), events("user_id"), events("event_type"),
        events("value"), dim("c_mktsegment").as("segment"))

  /** Streaming LAST-TOUCH ATTRIBUTION — [[st4Attribution]]'s unbounded
    * face: one click/purchase stream, state = a bounded buffer of the
    * user's recent clicks (watermark-pruned + capped, evicted by
    * event-time timeout), purchases emit their attribution immediately —
    * including late-but-in-watermark purchases attributing to
    * no-longer-newest clicks, matching the batch result. Rows inside a
    * micro-batch are not time-ordered, so each group's batch slice is
    * sorted by (ts, is_purchase, event_id) — st4's ordering — before
    * folding.
    *
    * BATCH-DIVERGENCE BOUND — two divergences, one sizeable, one not:
    * (1) `maxClicks` caps per-user state. If one user produces more than
    * `maxClicks` clicks inside the attribution band, the OLDEST in-band
    * clicks are evicted, and a late (in-watermark) purchase whose true
    * last-touch was an evicted click silently attributes to a newer
    * click (or nothing) — a deliberate bounded-state / exactness trade
    * the batch st4 does not make. Cap evictions (as opposed to watermark
    * pruning) are counted in the "attribution.capEvictions" spark
    * metric; size the cap to the heaviest plausible per-user in-band
    * click storm. (2) Append-mode emission is IRREVOCABLE: a purchase is
    * attributed against the clicks known when its micro-batch runs, so
    * an in-band click arriving in a LATER micro-batch (event-time before
    * the purchase, arrival after) cannot retroactively claim it — batch
    * st4, which sees all rows at once, would. No cap removes this one;
    * it is inherent to emit-on-arrival streaming (the alternative —
    * holding every purchase until the watermark passes its band — trades
    * it for band-length output latency). EventStreamsSpec pins the
    * behavior (purchase 6 / late click 7). */
  /** Epoch MICROSECONDS of a [[java.sql.Timestamp]] — Catalyst's native
    * timestamp precision. `getTime` alone truncates to milliseconds (the
    * sub-millisecond part lives only in `getNanos`), which mis-ordered
    * same-millisecond events against batch st4's full-precision sort. */
  private def epochUs(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  def streamingAttribution(events: DataFrame, watermark: String = "2 hours",
                           maxClicks: Int = 64): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
    val spark = events.sparkSession
    import spark.implicits._
    // Catalyst timestamps are MICROSECOND-precision and batch st4 orders
    // and band-checks at full precision; Timestamp.getTime truncates to
    // milliseconds and mis-ordered same-millisecond click/purchase pairs
    // (a purchase 200 us before a click sorted after it and attributed to
    // the future click). All ordering, band math and state therefore run
    // in epoch MICROS; only the watermark/timeout API stays in millis.
    val bandUs = 30L * 60 * 1000 * 1000
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("event_id").as[Long], col("user_id").as[Long],
        col("event_type").as[String], col("ts").as[java.sql.Timestamp],
        col("value").as[Double])
      .groupByKey(_._2)
    // State = the user's recent clicks as (id, ms) pairs, NOT just the
    // newest one: a purchase arriving late (but inside the watermark) may
    // attribute to a click that is no longer the newest, and a late click
    // may be the right answer for an even later-arriving in-band purchase.
    // The buffer is bounded two ways: clicks older than watermark-band
    // can never serve a non-late purchase and are pruned, and the
    // maxClicks cap keeps a click-storm from growing state (newest kept —
    // the ones purchases attribute to; see the scaladoc divergence bound).
    val capEvictions = spark.sparkContext.longAccumulator("attribution.capEvictions")
    typed.flatMapGroupsWithState[List[(Long, Long)], (Long, Long, Option[Long], Double)](
      OM.Append(), GroupStateTimeout.EventTimeTimeout()) {
      case (userId, rows, state: GroupState[List[(Long, Long)]]) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          // same-instant click sorts before the purchase (st4's
          // (t, is_purchase) rule), ties then by id
          val ordered = rows.toSeq.sortBy(r =>
            (epochUs(r._4), if (r._3 == "purchase") 1 else 0, r._1))
          var clicks = state.getOption.getOrElse(Nil) // (clickId, clickUs)
          val out = ordered.flatMap {
            case (id, _, "click", ts, _) =>
              val grown = ((id, epochUs(ts)) :: clicks)
                .sortBy { case (cid, cus) => (-cus, -cid) }
              if (grown.lengthCompare(maxClicks) > 0)
                capEvictions.add(grown.size - maxClicks)
              clicks = grown.take(maxClicks)
              None
            case (id, _, "purchase", ts, v) =>
              val us = epochUs(ts)
              // newest-first order: the first in-band click is last-touch;
              // equal-ts clicks resolve to the higher id like st4's dedupe
              val attributed = clicks.collectFirst {
                case (cid, cus) if cus >= us - bandUs && cus <= us => cid
              }
              Some((id, userId, attributed, v))
            case _ => None
          }
          val wm = state.getCurrentWatermarkMs()
          // the watermark is millis; a click is prunable only once NO
          // in-watermark purchase can sit in its band — compare in micros
          // against the watermark's microsecond floor. >=, not >: a
          // purchase with event time EXACTLY at the watermark is still
          // admitted, and its band's lower edge is exactly cus when
          // cus + bandUs == wm*1000 (r16 self-review boundary case)
          val kept = clicks.filter { case (_, cus) => cus + bandUs >= wm * 1000 }
          if (kept.isEmpty) state.remove()
          else {
            state.update(kept)
            // survives until the watermark passes newest-click+band; only
            // then can no in-band, non-late purchase still arrive. Spark
            // requires the timeout to sit above the current watermark.
            // The timeout API is millis: round the micro deadline UP so
            // state never dies a sub-millisecond early.
            state.setTimeoutTimestamp(
              math.max(Math.floorDiv(kept.head._2 + bandUs + 999, 1000), wm + 1))
          }
          out.iterator
        }
    }.toDF("purchase_id", "user_id", "click_id", "value")
  }

  /** Arbitrary stateful processing (the escape hatch when built-in
    * windows can't express the semantics): per-user lifetime running
    * totals via flatMapGroupsWithState. State is one (count, sum) pair
    * per user with an event-time timeout — bounded, shuffled once on the
    * group key. Emits a running snapshot per input batch per user. */
  def streamingUserTotals(events: DataFrame, watermark: String = "2 hours",
                          idleTimeout: String = "30 minutes"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
    val spark = events.sparkSession
    import spark.implicits._
    val idleMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(idleTimeout))
    val idleTimeoutMs =
      idleMs.days.toLong * 24 * 3600 * 1000 + idleMs.microseconds / 1000
    require(idleMs.months == 0 && idleTimeoutMs > 0,
      s"streamingUserTotals: idleTimeout must be a positive day-time interval, got '$idleTimeout'")
    val typed = events
      .withWatermark("ts", watermark)
      // the watermark column must flow into the stateful operator for
      // event-time timeouts to resolve
      .select(col("user_id").as[Long], col("value").as[Double],
        col("ts").as[java.sql.Timestamp])
      .groupByKey(_._1)
    // state = (count, sum, lastSeenMs). lastSeenMs — the max event time
    // EVER seen, not just this batch's max — must persist: a batch of
    // only late-but-in-watermark events would otherwise re-anchor the
    // timeout BACKWARD (max of the late batch + idle) and could evict
    // state before idleTimeout has elapsed past the user's true last
    // event, silently restarting the lifetime totals from zero.
    typed.flatMapGroupsWithState[(Long, Double, Long), (Long, Long, Double)](
      OM.Append(), GroupStateTimeout.EventTimeTimeout()) {
      case (userId, rows, state: GroupState[(Long, Double, Long)]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val (n0, sum0, last0) = state.getOption.getOrElse((0L, 0.0, Long.MinValue))
          var n = n0; var sum = sum0
          var lastTs = last0
          rows.foreach { case (_, v, ts) =>
            n += 1; sum += v
            if (ts.getTime > lastTs) lastTs = ts.getTime
          }
          state.update((n, sum, lastTs))
          // idle = no events for idleTimeout after the user's LAST SEEN
          // event time (streamingAttribution's anchor-on-data rule — a
          // watermark-anchored timeout would be an absolute 1970 instant
          // while the watermark is still 0 and evict state immediately);
          // max(..., wm+1): Spark rejects timeouts at/below the watermark,
          // and the floor also covers users seen only in batch 0
          state.setTimeoutTimestamp(
            math.max(lastTs + idleTimeoutMs, state.getCurrentWatermarkMs() + 1))
          Iterator.single((userId, n, math.round(sum * 100).toDouble / 100))
        }
    }.toDF("user_id", "n_events", "total_value")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st1_tumbling" -> (st1Tumbling _),
    "st2_sliding" -> (st2Sliding _),
    "st3_session" -> (st3Session _),
    "st4_attribution" -> (st4Attribution _),
  )

  val oracle: Map[String, String] = Map(
    "st1_tumbling" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
              count(*) AS n,
              CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
       FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "st2_sliding" ->
      """WITH starts AS (
        SELECT CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP) AS window_start, value FROM events
        UNION ALL
        SELECT CAST(time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS TIMESTAMP), value FROM events)
       SELECT window_start, count(*) AS n,
            CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
       FROM starts GROUP BY 1 ORDER BY window_start""",
    "st4_attribution" ->
      """WITH clicks AS (
        SELECT user_id, ts, max(event_id) AS click_id
        FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      purch AS (
        SELECT event_id AS purchase_id, user_id, ts, value
        FROM events WHERE event_type = 'purchase')
       SELECT p.purchase_id, p.user_id,
            CASE WHEN c.ts >= p.ts - INTERVAL '30 minutes'
                 THEN c.click_id END AS click_id,
            p.value
       FROM purch p ASOF LEFT JOIN clicks c
         ON p.user_id = c.user_id AND c.ts <= p.ts
       ORDER BY p.purchase_id""",
    "st3_session" ->
      """WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                      >= INTERVAL '30 minutes' OR
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events),
      islands AS (
        SELECT user_id, value,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM flagged)
       SELECT user_id, CAST(session_idx AS INTEGER) AS session_idx,
            count(*) AS n_events,
            CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
       FROM islands GROUP BY 1, 2 ORDER BY user_id, session_idx""",
  )
}
