package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite

/** True Structured Streaming tests on MemoryStream with explicit event
  * times (no wall-clock sleeps — SURVEY.md §5.2 item 5): windowed aggs
  * emit on watermark passage, late data beyond the watermark is dropped,
  * streaming dedup is bounded by the watermark. */
class EventStreamsSpec extends AnyFunSuite with GraftSuite {

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                event_type: String, value: Double)

  // the JVM-wide state-store maintenance thread outlives the session and
  // would keep polling this suite's providers while later suites run
  override protected def afterAll(): Unit = {
    StateStore.stop()
    super.afterAll()
  }

  private def ts(minutes: Int): Timestamp =
    Timestamp.valueOf(s"2024-01-01 ${"%02d".format(minutes / 60)}:${"%02d".format(minutes % 60)}:00")

  /** [[ts]] plus `micros` microseconds — sub-millisecond event times
    * (Catalyst's native precision; the events fixture carries them). */
  private def tsUs(minutes: Int, micros: Int): Timestamp = {
    val t = ts(minutes)
    t.setNanos(micros * 1000)
    t
  }

  test("streaming tumbling agg: windows close when watermark passes; late data dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStreams.streamingTumbling(in.toDF(), watermark = "30 minutes")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Append()).start()

    // hour-0 events
    in.addData(Ev(1, ts(5), 1, "a", 10.0), Ev(2, ts(20), 1, "a", 5.0), Ev(3, ts(40), 2, "b", 1.0))
    q.processAllAvailable()
    // watermark is still inside hour 0 -> nothing emitted in append mode
    assert(spark.table("tumbling").count() == 0)

    // jump event time into hour 2: watermark (max - 30m) passes hour-0 close
    in.addData(Ev(4, ts(125), 1, "a", 2.0))
    q.processAllAvailable()
    // one more batch tick so the state-store eviction emits
    in.addData(Ev(5, ts(130), 1, "a", 3.0))
    q.processAllAvailable()
    val rows = spark.table("tumbling")
      .select("window_start", "event_type", "n", "total_value").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows.contains(("2024-01-01 00:00:00.0", "a", 2L, 15.0)))
    assert(rows.contains(("2024-01-01 00:00:00.0", "b", 1L, 1.0)))

    // late event for hour 0, far behind watermark -> dropped (never emitted)
    in.addData(Ev(6, ts(10), 9, "a", 99.0))
    in.addData(Ev(7, ts(200), 1, "a", 1.0))
    q.processAllAvailable()
    val hour0a = spark.table("tumbling")
      .where("window_start = timestamp '2024-01-01 00:00:00' AND event_type = 'a'").collect()
    assert(hour0a.length == 1 && hour0a(0).getAs[Long]("n") == 2L)
    q.stop()
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStreams.streamingDedup(in.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    in.addData(Ev(1, ts(0), 1, "a", 1.0), Ev(1, ts(1), 1, "a", 1.0), Ev(2, ts(2), 1, "b", 2.0))
    q.processAllAvailable()
    in.addData(Ev(1, ts(3), 1, "a", 1.0)) // dup again, still within watermark
    q.processAllAvailable()
    assert(spark.table("dedup").select("event_id").collect().map(_.getLong(0)).sorted
      sameElements Array(1L, 2L))
    q.stop()
  }

  test("flatMapGroupsWithState keeps per-user running totals") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStreams.streamingUserTotals(in.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("totals")
      .outputMode(OutputMode.Append()).start()
    in.addData(Ev(1, ts(0), 7, "a", 1.5), Ev(2, ts(1), 7, "a", 2.0))
    q.processAllAvailable()
    in.addData(Ev(3, ts(2), 7, "a", 0.5), Ev(4, ts(3), 8, "b", 9.0))
    q.processAllAvailable()
    val snaps = spark.table("totals").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch 1 snapshot: user 7 (2, 3.5); batch 2: user 7 (3, 4.0), user 8 (1, 9.0)
    assert(snaps.contains((7L, 2L, 3.5)))
    assert(snaps.contains((7L, 3L, 4.0)))
    assert(snaps.contains((8L, 1L, 9.0)))
    q.stop()
  }

  test("streamingUserTotals honors idleTimeout: idle state evicts and the count restarts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStreams.streamingUserTotals(in.toDF(),
        watermark = "0 seconds", idleTimeout = "10 minutes")
      .writeStream.format("memory").queryName("totals_idle")
      .outputMode(OutputMode.Append()).start()
    in.addData(Ev(1, ts(0), 7, "a", 1.0))
    q.processAllAvailable()
    // another user's event pushes the watermark far past 7's last-seen
    // (ts 0) + 10 minutes — user 7's state must time out and be removed
    in.addData(Ev(2, ts(120), 8, "b", 2.0))
    q.processAllAvailable()
    in.addData(Ev(3, ts(121), 7, "a", 5.0))
    q.processAllAvailable()
    val snaps = spark.table("totals_idle").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(snaps.contains((7L, 1L, 1.0)), "first snapshot")
    assert(snaps.contains((7L, 1L, 5.0)),
      s"count must RESTART after the idle eviction, got $snaps")
    assert(!snaps.contains((7L, 2L, 6.0)),
      "state survived past its idle timeout")
    q.stop()
  }

  test("streaming attribution credits purchases to the latest in-band click") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStreams.streamingAttribution(in.toDF())
      .writeStream.format("memory").queryName("lasttouch")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      Ev(1, ts(0), 1, "click", 0.0),
      Ev(2, ts(10), 1, "click", 0.0),
      Ev(3, ts(15), 1, "purchase", 9.99), // latest in-band click is 2
      Ev(4, ts(5), 2, "purchase", 5.0))   // user 2 never clicked -> null
    q.processAllAvailable()
    // state carries across micro-batches: a later purchase still sees click 2
    in.addData(Ev(5, ts(30), 1, "purchase", 1.0))
    q.processAllAvailable()
    // ... but a purchase >30m after the last click is unattributed
    in.addData(Ev(6, ts(100), 1, "purchase", 2.0))
    q.processAllAvailable()
    // a LATE click (older event time, later batch) must not displace the
    // newer click for future purchases...
    in.addData(Ev(7, ts(95), 1, "click", 0.0))
    q.processAllAvailable()
    in.addData(Ev(8, ts(20), 1, "click", 0.0)) // late arrival
    in.addData(Ev(9, ts(110), 1, "purchase", 3.0))
    q.processAllAvailable()
    // ...but a late purchase landing between the late click and the newer
    // one still attributes to the late click (batch semantics)
    in.addData(Ev(10, ts(25), 1, "purchase", 4.0))
    q.processAllAvailable()
    // same-instant click + purchase in one batch: the click sorts first
    // (st4's (t, is_purchase) rule) even with a higher event_id
    in.addData(Ev(13, ts(112), 1, "click", 0.0), Ev(12, ts(112), 1, "purchase", 6.0))
    q.processAllAvailable()
    val rows = spark.table("lasttouch").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(rows == Map(3L -> Some(2L), 4L -> None, 5L -> Some(2L), 6L -> None,
      9L -> Some(7L), 10L -> Some(8L), 12L -> Some(13L)))
    q.stop()
  }

  test("streaming attribution orders and band-checks at microsecond precision") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStreams.streamingAttribution(in.toDF())
      .writeStream.format("memory").queryName("lasttouch_us")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      // user 11: the click is 500 us AFTER the purchase, same millisecond.
      // Millisecond truncation sorted the click first (is_purchase=0) and
      // attributed the purchase to a FUTURE click; batch st4 (full
      // precision) leaves it unattributed.
      Ev(101, tsUs(50, 200), 11, "purchase", 1.0),
      Ev(102, tsUs(50, 700), 11, "click", 0.0),
      // user 12: same millisecond, click 200 us BEFORE the purchase —
      // attribution must still work inside a millisecond
      Ev(103, tsUs(50, 100), 12, "click", 0.0),
      Ev(104, tsUs(50, 300), 12, "purchase", 2.0),
      // user 13: the purchase sits 500 us PAST the 30-minute band edge —
      // millisecond truncation put it exactly on the edge and attributed
      Ev(105, ts(0), 13, "click", 0.0),
      Ev(106, tsUs(30, 500), 13, "purchase", 3.0))
    q.processAllAvailable()
    val rows = spark.table("lasttouch_us").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(rows == Map(101L -> None, 104L -> Some(103L), 106L -> None),
      s"microsecond ordering/band must match batch st4, got $rows")
    q.stop()
  }

  test("streamingUserTotals: a late-only batch must not pull the idle timeout backward") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    // idle 10 min, watermark delay 20 min: late events up to 20 min old
    // are accepted. The timeout must anchor on the user's LAST SEEN event
    // time ever — a batch holding only a late event previously re-anchored
    // on that older time and evicted state before 10 idle minutes had
    // passed since the true last event.
    val q = EventStreams.streamingUserTotals(in.toDF(),
        watermark = "20 minutes", idleTimeout = "10 minutes")
      .writeStream.format("memory").queryName("totals_late")
      .outputMode(OutputMode.Append()).start()
    // NOTE on timing: the eviction watermark of batch N already includes
    // batch N's own data (timeouts fire in the same batch that advances
    // the watermark past them — the pre-existing idle test depends on it
    // too), so the discriminating window is wm 106: past the buggy
    // re-anchor (95), short of the correct one (110).
    in.addData(Ev(1, ts(100), 7, "a", 1.0))          // timeout anchor: 110
    q.processAllAvailable()                           // wm -> 80
    in.addData(Ev(2, ts(85), 7, "a", 2.0),            // late (85 > wm 80): kept
               Ev(3, ts(114), 8, "b", 9.0))           // wm -> 94 (< both anchors)
    q.processAllAvailable()
    // buggy re-anchor: max(85+10, wm+1) = 95; correct anchor stays 110
    in.addData(Ev(4, ts(126), 8, "b", 9.0))           // wm -> 106: bug evicts 7 (106 > 95),
    q.processAllAvailable()                           // fix keeps it (106 < 110)
    in.addData(Ev(5, ts(125), 7, "a", 4.0))           // 125 > wm 106: kept
    q.processAllAvailable()
    val snaps = spark.table("totals_late").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(snaps.contains((7L, 3L, 7.0)),
      s"user 7's totals must survive the late-only batch, got $snaps")
    assert(!snaps.contains((7L, 1L, 4.0)),
      "totals restarted: state was evicted before 10 idle minutes past the last-seen event")
    q.stop()
  }

  test("stream-stream join matches purchases to clicks within the time band") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = EventStreams.streamingStreamJoin(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append()).start()
    clicks.addData(Ev(100, ts(0), 1, "click", 0.0), Ev(101, ts(0), 2, "click", 0.0))
    purchases.addData(
      Ev(200, ts(10), 1, "purchase", 9.99),  // within 30m of click 100
      Ev(201, ts(50), 2, "purchase", 5.0))   // outside the 30m band
    q.processAllAvailable()
    val rows = spark.table("attrib").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((100L, 200L)))
    q.stop()
  }

  test("stream-static join enriches events with dimension attributes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((7L, "BUILDING"), (8L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val in = MemoryStream[Ev]
    val q = EventStreams.streamingEnriched(in.toDF(), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    in.addData(Ev(1, ts(0), 7, "a", 1.0), Ev(2, ts(1), 9, "b", 2.0))
    q.processAllAvailable()
    val rows = spark.table("enriched")
      .collect().map(r => (r.getLong(0), Option(r.getString(4)))).toMap
    assert(rows == Map(1L -> Some("BUILDING"), 2L -> None))
    q.stop()
  }

  test("streaming file sink writes parquet with checkpointing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val outDir = java.nio.file.Files.createTempDirectory("sink").toString
    val in = MemoryStream[Ev]
    val q = EventStreams.streamingTumbling(in.toDF(), watermark = "30 minutes")
      .writeStream.format("parquet")
      .option("path", s"$outDir/data")
      .option("checkpointLocation", s"$outDir/ckpt")
      .outputMode(OutputMode.Append()).start()
    in.addData(Ev(1, ts(5), 1, "a", 10.0), Ev(2, ts(20), 1, "a", 5.0))
    q.processAllAvailable()
    in.addData(Ev(3, ts(125), 1, "a", 2.0))
    q.processAllAvailable()
    in.addData(Ev(4, ts(130), 1, "a", 3.0))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(s"$outDir/data")
    val rows = back.collect().map(r => (r.getAs[java.sql.Timestamp]("window_start").toString,
      r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSet
    assert(rows.contains(("2024-01-01 00:00:00.0", "a", 2L)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outDir))
  }

  test("state stays bounded under watermark eviction across many micro-batches") {
    // the 100 TB streaming claim, measured: run 22 hourly micro-batches
    // through the windowed agg and assert the state store holds only the
    // open window tail (watermark evicts closed windows), i.e. state does
    // NOT grow with stream length
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStreams.streamingTumbling(in.toDF(), watermark = "30 minutes")
      .writeStream.format("memory").queryName("bounded")
      .outputMode(OutputMode.Append()).start()
    val batches = 22 // keeps event time inside one day for the ts() helper
    for (h <- 0 until batches) {
      val base = h * 60
      in.addData(Ev(h * 2L, ts(base + 5), 1, "a", 1.0),
        Ev(h * 2L + 1, ts(base + 25), 1, "a", 2.0))
      q.processAllAvailable()
    }
    // one final watermark-advancing event: without it the last windows'
    // emission would depend on no-data micro-batches being enabled
    in.addData(Ev(9999L, ts(23 * 60), 2, "z", 0.0))
    q.processAllAvailable()
    val states = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .map(_.numRowsTotal)
    assert(states.nonEmpty)
    val maxState = states.max
    // 44 events across 22 hourly windows; an unbounded store would hold
    // ~22 rows by the last batch — eviction must keep it to the open tail
    assert(maxState <= 4, s"state grew to $maxState rows — watermark not evicting")
    // and the closed windows were actually emitted downstream
    assert(spark.table("bounded").count() >= batches - 2)
    q.stop()
  }

  test("streaming sessions merge events within the gap and split across it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStreams.streamingSessions(in.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    // user 1: events at 0,10,20 (one session), then 60 (new session)
    in.addData(Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(10), 1, "a", 1.0),
      Ev(3, ts(20), 1, "a", 1.0), Ev(4, ts(60), 1, "a", 1.0))
    q.processAllAvailable()
    // push watermark far ahead so all sessions close
    in.addData(Ev(9, ts(600), 2, "z", 0.0))
    q.processAllAvailable()
    in.addData(Ev(10, ts(610), 2, "z", 0.0))
    q.processAllAvailable()
    val sess = spark.table("sessions").where("user_id = 1")
      .select("session_start", "n_events").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSet
    assert(sess == Set(("2024-01-01 00:00:00.0", 3L), ("2024-01-01 01:00:00.0", 1L)))
    q.stop()
  }
}
