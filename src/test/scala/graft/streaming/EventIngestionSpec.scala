package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Scratch, SparkSpec}

/** Testdata-schema canary (VERDICT r9 #3): the events ingestion contract
  * must hold for EVERY `ts` encoding a feed can carry. Round 9 broke when
  * the testdata silently moved from parquet TIMESTAMP(NANOS) to
  * TIMESTAMP(MICROS): the batch path threw `DATATYPE_MISMATCH` (loud) and
  * the explicit-schema streaming path read µs as ns (silent, 1000× off —
  * the worst failure mode). This spec pins the contract on tiny fixtures
  * of each encoding AND on the real `/root/testdata` feed, so a future
  * testdata regeneration fails here first, in one obvious place.
  */
class EventIngestionSpec extends SparkSpec {
  import spark.implicits._

  /** The same three instants (2024-03-01T00:00:00/01/02Z) in each clock
    * unit; every fixture must normalize to these µs-epoch values. */
  private val baseUs = 1709251200000000L
  private val wantUs = Seq(baseUs, baseUs + 1000000L, baseUs + 2000000L)

  private def writeFixture(df: DataFrame): String = {
    val dir = Scratch.dir("graft_ev_canary_")
    df.coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  private def eventRows(ts: Seq[Long]): DataFrame =
    ts.zipWithIndex.map { case (t, i) => (i.toLong, t, 7L, "click", 1.5, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  private def ingestedUs(dir: String): Seq[Long] = {
    val got = EventOps.events(spark, dir)
    assert(got.schema("ts").dataType === LongType, "normalized ts must be µs-epoch LongType")
    got.select("ts").as[Long].collect().toSeq.sorted
  }

  test("µs TIMESTAMP_NTZ encoding (the current testdata shape) normalizes to µs longs") {
    val df = eventRows(wantUs)
      .withColumn("ts", expr("timestamp_micros(ts)").cast("timestamp_ntz"))
    assert(ingestedUs(writeFixture(df)) === wantUs)
  }

  test("instant (session-tz) TIMESTAMP encoding normalizes to the same µs longs") {
    val df = eventRows(wantUs).withColumn("ts", expr("timestamp_micros(ts)"))
    assert(ingestedUs(writeFixture(df)) === wantUs)
  }

  test("ns-epoch long encoding (the r8 testdata shape) normalizes to the same µs longs") {
    assert(ingestedUs(writeFixture(eventRows(wantUs.map(_ * 1000L)))) === wantUs)
  }

  test("ms- and s-epoch long encodings normalize to the same µs longs") {
    assert(ingestedUs(writeFixture(eventRows(wantUs.map(_ / 1000L)))) === wantUs)
    assert(ingestedUs(writeFixture(eventRows(wantUs.map(_ / 1000000L)))) === wantUs)
  }

  test("a long feed outside the sane epoch range fails loudly instead of guessing") {
    // 12345 s epoch = 1970 — below the [2000, 2100) sanity window in every unit
    val dir = writeFixture(eventRows(Seq(12345L, 23456L, 34567L)))
    val e = intercept[IllegalStateException](EventOps.events(spark, dir).collect())
    assert(e.getMessage.contains("sane epoch"))
  }

  test("the streaming path normalizes the same way — no silent 1000x-off timestamps") {
    // r9's failure mode: a hard-coded LongType stream schema read µs values
    // as ns and produced 1970-adjacent timestamps that still row-counted
    // clean. The streamed hourly rollup over a µs fixture must land in the
    // fixture's real year.
    val df = eventRows(wantUs)
      .withColumn("ts", expr("timestamp_micros(ts)").cast("timestamp_ntz"))
    val dir = writeFixture(df)
    val q = EventOps.streamingHourlyAgg(spark, s"$dir/events.parquet")
      .writeStream.format("memory").queryName("ingest_canary_hourly")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val hours = spark.table("ingest_canary_hourly")
      .select(year(col("hour"))).as[Int].collect()
    assert(hours.nonEmpty && hours.forall(_ === 2024), hours.toSeq)
  }

  test("the real testdata feed ingests inside the sane epoch range at µs precision") {
    val ev = EventOps.events(spark, sfDir)
    assert(ev.schema("ts").dataType === LongType)
    val r = ev.agg(min("ts"), max("ts")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    // 2000-01-01 .. 2100-01-01 in µs — a unit slip of 1000× in either
    // direction lands far outside this window and fails here
    assert(lo >= 946684800000000L && hi < 4102444800000000L,
      s"events.ts out of sane µs-epoch range: [$lo, $hi]")
  }
}
