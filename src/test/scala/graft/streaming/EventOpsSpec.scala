package graft.streaming

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

/** Streaming-vs-batch equivalence for the event pipeline. */
class EventOpsSpec extends SparkSpec {

  test("structured-streaming hourly agg equals the batch computation") {
    // file-source streams read directories of drops, not single files
    val dropDir = java.nio.file.Paths.get(Scratch.dir("graft_events"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dropDir.resolve("events.parquet"))
    val stream = EventOps.streamingHourlyAgg(spark, dropDir.toString)
    val query = stream.writeStream
      .format("memory")
      .queryName("ev_hourly_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)

    val streamed = spark.table("ev_hourly_stream")
      .select("hour", "event_type", "n_events", "value_cents")
      .collect().map(_.toSeq).toSet
    // date_trunc yields session-tz TIMESTAMP; align with the stream's NTZ hour
    val batch = EventOps.hourlyAgg(EventOps.events(spark, sfDir))
      .select(col("hour").cast("timestamp_ntz").as("hour"),
        col("event_type"), col("n_events"), col("value_cents"))
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("as-of join attaches the most recent strictly-prior error per user") {
    import spark.implicits._
    // user 1: error@100s, click@200s, error@300s, click@400s; user 2: no errors
    val us = (s: Long) => s * 1000000L
    val ev = Seq(
      (1L, us(100), 1L, "error", 0.0, "{}"),
      (2L, us(200), 1L, "click", 0.0, "{}"),
      (3L, us(300), 1L, "error", 0.0, "{}"),
      (4L, us(400), 1L, "click", 0.0, "{}"),
      (5L, us(500), 2L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.asofLastError(ev)
      .select("event_id", "us_since_error")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out(1L) === -1L)                 // first event: no prior error
    assert(out(2L) === 100L * 1000000)      // click@200 - error@100
    assert(out(3L) === 200L * 1000000)      // error@300 sees the @100 one (strictly prior)
    assert(out(4L) === 100L * 1000000)      // click@400 - error@300
    assert(out(5L) === -1L)                 // user 2 never errored
  }

  test("as-of click join: duplicate (user, ts) clicks dedup to the max value") {
    import spark.implicits._
    // two clicks at the SAME instant before the purchase — each engine's
    // pick among (key, time) ties is its own convention, so asofLastClick
    // pre-dedups keeping max(value) in BOTH engines (ADVICE r6)
    val us = (s: Long) => s * 1000000L
    val ev = Seq(
      (1L, us(100), 1L, "click", 2.5, "{}"),
      (2L, us(100), 1L, "click", 7.5, "{}"),
      (3L, us(200), 1L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.asofLastClick(ev).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Double]("last_click_value") === 7.5)
  }

  test("funnel: stages require strict event-time order within each user") {
    import spark.implicits._
    val us = (s: Long) => s * 1000000L
    val ev = Seq(
      // user 1 completes the ordered funnel
      (1L, us(10), 1L, "view", 0.0, "{}"),
      (2L, us(20), 1L, "click", 0.0, "{}"),
      (3L, us(30), 1L, "purchase", 0.0, "{}"),
      // user 2's click PRECEDES its first view -> not a funnel click
      (4L, us(10), 2L, "click", 0.0, "{}"),
      (5L, us(20), 2L, "view", 0.0, "{}"),
      // user 3 views only
      (6L, us(10), 3L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.funnel(ev).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) === ((3L, 3L, 1L, 1L)))
    assert(r.getDouble(4) === 1.0 / 3) // view_to_click
    assert(r.getDouble(5) === 1.0) // click_to_purchase
  }

  test("stateful streaming sessionizer emits closed sessions across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sq = spark.sqlContext
    val us = 1000000L
    val input = MemoryStream[EventOps.SessionEvent]
    val q = EventOps.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: two events 60s apart (one open session)
      input.addData(EventOps.SessionEvent(7L, 0L), EventOps.SessionEvent(7L, 60L * us))
      q.processAllAvailable()
      assert(spark.table("sessions_out").count() === 0) // still open
      // batch 2: an event 31min later closes the first session
      input.addData(EventOps.SessionEvent(7L, (31L * 60 + 60) * us))
      q.processAllAvailable()
      val sessions = spark.table("sessions_out")
        .as[EventOps.SessionSummary].collect()
      assert(sessions.toSeq === Seq(EventOps.SessionSummary(7L, 0L, 60L * us, 2L)))
    } finally q.stop()
  }

  test("sessionize: a cross-batch LATE event never moves the session bounds backwards (r16)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sq = spark.sqlContext
    val us = 1000000L
    val input = MemoryStream[EventOps.SessionEvent]
    val q = EventOps.sessionize(input.toDS(), gapMinutes = 10)
      .writeStream.format("memory").queryName("sessions_late_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: state last = T (600s)
      input.addData(EventOps.SessionEvent(9L, 600L * us))
      q.processAllAvailable()
      // batch 2: a LATE event 9min older merges (within gap) — but if it
      // moved `last` backwards, the next on-time event would split
      input.addData(EventOps.SessionEvent(9L, 60L * us))
      q.processAllAvailable()
      // batch 3: 5min after the true last event — same session
      input.addData(EventOps.SessionEvent(9L, 900L * us))
      q.processAllAvailable()
      assert(spark.table("sessions_late_out").count() === 0,
        "an in-gap continuation must not close the session")
      // a genuine 11-min silence closes ONE session with the true bounds
      input.addData(EventOps.SessionEvent(9L, (900L + 11 * 60) * us))
      q.processAllAvailable()
      val sessions = spark.table("sessions_late_out")
        .as[EventOps.SessionSummary].collect()
      assert(sessions.toSeq ===
        Seq(EventOps.SessionSummary(9L, 60L * us, 900L * us, 3L)))
    } finally q.stop()
  }

  test("streaming dedup collapses re-delivered files to distinct event_ids") {
    val dropDir = java.nio.file.Paths.get(Scratch.dir("graft_dedup"))
    // the same parquet delivered twice = an at-least-once redelivery
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), dropDir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), dropDir.resolve("b.parquet"))
    val q = EventOps.streamingDedup(spark, dropDir.toString)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val deduped = spark.table("dedup_out").count()
    val distinctIds = EventOps.events(spark, sfDir)
      .select("event_id").distinct().count()
    assert(deduped === distinctIds)
  }

  test("attribution counts only same-user clicks in the 30min window before the purchase") {
    import spark.implicits._
    val us = 1000000L
    val ev = Seq(
      (1L, 0L * us, 7L, "click", 0.0, "{}"),              // 29min before → in window
      (2L, 60L * us, 7L, "click", 0.0, "{}"),             // 28min before → in window
      (3L, (29L * 60) * us, 7L, "purchase", 5.0, "{}"),
      (4L, (29L * 60) * us, 7L, "click", 0.0, "{}"),      // exactly at purchase → inclusive
      (5L, (100L * 60) * us, 7L, "click", 0.0, "{}"),     // after → out
      (6L, (29L * 60) * us, 9L, "click", 0.0, "{}"),      // other user → out
      (7L, (200L * 60) * us, 9L, "purchase", 1.0, "{}"))  // no clicks in window
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.attribution(ev).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out === Map(3L -> 3L, 7L -> 0L))
  }

  test("stream-stream interval join matches the batch attribution pairs") {
    val dropDir = java.nio.file.Paths.get(Scratch.dir("graft_attr"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), dropDir.resolve("events.parquet"))
    val q = EventOps.streamingAttribution(spark, dropDir.toString)
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // inner pairs per purchase == the batch LEFT-join counts where > 0
    val streamed = spark.table("attr_out")
      .groupBy("purchase_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = EventOps.attribution(EventOps.events(spark, sfDir))
      .filter(col("n_clicks_30m") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("D7 retention counts exactly-day-7 returners against first-day cohorts") {
    import spark.implicits._
    val day = 86400L * 1000000L // µs
    val ev = Seq(
      (1L, 0L, 1L, "click", 0.0, "{}"),            // u1 first on day 0...
      (2L, 7 * day, 1L, "click", 0.0, "{}"),       // ...back exactly day 7 → retained
      (3L, 0L, 2L, "click", 0.0, "{}"),            // u2 first on day 0...
      (4L, 6 * day, 2L, "click", 0.0, "{}"),       // ...day 6 doesn't count
      (5L, 8 * day, 2L, "click", 0.0, "{}"),       // ...day 8 doesn't either
      (6L, 1 * day, 3L, "click", 0.0, "{}"),       // u3 cohort day 1, never returns
      (7L, 7 * day, 4L, "click", 0.0, "{}"),       // u4 cohort day 7 (not u1's return)
      (8L, 14 * day, 4L, "click", 0.0, "{}"))      // ...and retained on day 14
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.retentionD7(ev).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map(
      "1970-01-01" -> ((2L, 1L)),  // u1 retained, u2 not
      "1970-01-02" -> ((1L, 0L)),  // u3
      "1970-01-08" -> ((1L, 1L)))) // u4
  }

  test("session facts attribute purchase revenue to the containing session") {
    import spark.implicits._
    val m = 60L * 1000000L // minute in µs
    val ev = Seq(
      (1L, 0L * m, 7L, "click", 0.0, "{}"),
      (2L, 10L * m, 7L, "purchase", 2.5, "{}"),     // session 1: 250 cents
      (3L, 50L * m, 7L, "purchase", 1.0, "{}"),     // >30min gap → session 2
      (4L, 55L * m, 7L, "click", 9.9, "{}"))        // click value is NOT revenue
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.sessionFacts(ev).collect()
      .map(r => r.getLong(1) -> (r.getLong(4), r.getLong(5))).toMap
    assert(out === Map(1L -> ((2L, 250L)), 2L -> ((2L, 100L))))
  }

  test("hourly anomalies: a single spiked hour flags at |z| > 3, steady hours don't") {
    import spark.implicits._
    val h = 3600L * 1000000L
    // 20 steady hours of 1 event + one hour with 30: the spike dominates
    val steady = (0 until 20).map(i => (i.toLong, i * h, 1L, "click", 0.0, "{}"))
    val spike = (0 until 30).map(i => (100L + i, 20 * h + i * 1000L, 1L, "click", 0.0, "{}"))
    val ev = (steady ++ spike)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.hourlyAnomalies(ev).collect()
      .map(r => r.getLong(2) -> r.getBoolean(4)).toMap
    assert(out(30L) === true)   // the spiked hour
    assert(out(1L) === false)   // steady hours
  }

  test("linear attribution conserves every cent and places remainders earliest") {
    import spark.implicits._
    val m = 60L * 1000000L
    // purchase of 1.00 (100 cents) with 3 windowed clicks: 34/33/33 with
    // the extra cent on the EARLIEST click; an unattributed purchase keeps
    // its full revenue
    val ev = Seq(
      (1L, 0L, 7L, "click", 0.0, "{}"),
      (2L, 5L * m, 7L, "click", 0.0, "{}"),
      (3L, 10L * m, 7L, "click", 0.0, "{}"),
      (4L, 20L * m, 7L, "purchase", 1.0, "{}"),
      (5L, 0L, 9L, "purchase", 2.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.attributionLinear(ev).collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.toString), r.getLong(4)))
    val p4 = out.filter(_._1 == 4L).sortBy(_._2)
    assert(p4.map(_._3).toSeq === Seq(34L, 33L, 33L))
    assert(p4.map(_._3).sum === 100L)
    assert(out.filter(_._1 == 5L).map(_._3).toSeq === Seq(250L))
    // conservation on the real feed: attributed totals == purchase totals
    val events = EventOps.events(spark, sfDir)
    val attributed = EventOps.attributionLinear(events)
      .agg(sum("attributed_cents")).head().getLong(0)
    val purchases = events.filter(col("event_type") === "purchase")
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)"))).head().getLong(0)
    assert(attributed === purchases)
  }

  test("MAD anomalies flag a spike the mean/stddev z-score masks") {
    import spark.implicits._
    val h = 3600L * 1000000L
    // hourly counts 10,12,10,14,10,12,100: the 100-spike inflates its own
    // stddev so z ≈ 2.3 stays under the 3σ line; median 12 / MAD 2 gives
    // robust_z = 0.6745·88/2 ≈ 29.7 — flagged
    val counts = Seq(10, 12, 10, 14, 10, 12, 100)
    val ev = counts.zipWithIndex.flatMap { case (n, hr) =>
      (0 until n).map(i => (hr * 1000L + i, hr * h + i * 1000L, 1L, "click", 0.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val z = EventOps.hourlyAnomalies(ev).collect()
      .map(r => r.getLong(2) -> r.getBoolean(4)).toMap
    assert(z(100L) === false) // masked by its own contribution to stddev
    val mad = EventOps.hourlyAnomaliesMad(ev).collect()
      .map(r => r.getLong(2) -> (r.getDouble(3), r.getBoolean(4))).toMap
    assert(mad(100L)._2 === true)
    assert(mad(100L)._1 === BigDecimal(0.6745 * (100 - 12) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(mad(10L)._2 === false)
    // a zero-MAD type (majority of hours at the median) is excluded
    val flat = (0 until 5).flatMap(hr => (0 until 3).map(i =>
      (9000L + hr * 10 + i, hr * h + i * 1000L, 1L, "view", 0.0, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(EventOps.hourlyAnomaliesMad(flat).count() === 0)
  }

  test("native session_window agrees with the lag idiom, exact-gap instant included") {
    import spark.implicits._
    val m = 60L * 1000000L
    val ev = Seq(
      (1L, 0L, 7L, "click", 0.0, "{}"),
      (2L, 30L * m, 7L, "click", 0.0, "{}"),   // exactly 30 min after #1: merges
      (3L, 90L * m, 7L, "click", 0.0, "{}"),   // clear new session
      (4L, 90L * m + 30L * m + 1L, 7L, "click", 0.0, "{}")) // 1 µs past gap: splits
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val native = EventOps.sessionsNativeWindow(ev).head()
    val legacy = EventOps.sessions(ev).head()
    assert((native.getLong(1), native.getLong(2)) === ((4L, 3L)))
    assert((legacy.getLong(1), legacy.getLong(2)) === ((4L, 3L)))
    // and on the real feed
    val real = EventOps.events(spark, sfDir)
    val a = EventOps.sessionsNativeWindow(real).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val b = EventOps.sessions(real).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(a === b)
  }

  test("sessionization splits on >30min gaps per user") {
    import spark.implicits._
    val us = 1000000L
    val ev = Seq(
      (1L, 0L * us, 7L, "click", 1.0, "{}"),
      (2L, 60L * us, 7L, "click", 1.0, "{}"),          // same session
      (3L, (31L * 60 + 61) * us, 7L, "click", 1.0, "{}"), // gap > 30min → new session
      (4L, 0L * us, 9L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.sessions(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((7L, 3L, 2L), (9L, 1L, 1L)))
  }
}
