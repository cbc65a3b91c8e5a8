package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.queries.Relational

/** The one event-time unit: `events.ts` is parquet `timestamp[us]` (read
  * as TIMESTAMP_NTZ), and the scan turns it into long epoch micros, the
  * value DuckDB's `epoch_us(ts)` gives the oracles. Checked here on an
  * on-disk fixture, so a change of the parquet encoding fails by name. */
class EventTimeSpec extends SparkSpec {

  private val hour = 3600L * 1000000L
  // 2024-01-02T03:04:05.678901 UTC
  private val t0 = 1704164645678901L
  // (user_id, ts micros): user 0 skips an hour, user 1 sits in it
  private val rows = Seq((0L, t0), (1L, t0 + hour), (0L, t0 + 2 * hour))

  test("an on-disk TIMESTAMP_NTZ events.ts scans as long epoch micros; hourly gap-fill and tumblingCounts agree") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("events_ntz").toString
    rows.map { case (u, us) => (u, us, "view", 1.0) }
      .toDF("user_id", "us", "event_type", "value")
      .select(col("user_id"),
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"),
        col("event_type"), col("value"))
      .write.parquet(s"$dir/events.parquet")
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
      == TimestampNTZType)

    val ev = Relational.t(spark, dir, "events")
    assert(ev.schema("ts").dataType == LongType)
    assert(ev.select("user_id", "ts").as[(Long, Long)].collect().toSet == rows.toSet)

    // q24-shaped: each user's hourly buckets, densified over its span
    val bkt = ev.withColumn("bkt", expr(s"ts div $hour"))
    val per = bkt.groupBy("user_id", "bkt").agg(count(lit(1)).as("n"))
    val span = bkt.groupBy("user_id").agg(min("bkt").as("b0"), max("bkt").as("b1"))
    val filled = span.select(col("user_id"),
        explode(sequence(col("b0"), col("b1"))).as("bkt"))
      .join(per, Seq("user_id", "bkt"), "left")
      .na.fill(0L, Seq("n"))
      .orderBy("user_id", "bkt")
      .as[(Long, Long, Long)].collect().toSeq
    val h0 = t0 / hour
    assert(filled == Seq((0L, h0, 1L), (0L, h0 + 1, 0L), (0L, h0 + 2, 1L),
      (1L, h0 + 1, 1L)))

    val counts = EventStream.tumblingCounts(ev)
      .orderBy("wstart")
      .select(unix_micros(col("wstart")), col("n")).as[(Long, Long)]
      .collect().toSeq
    assert(counts == rows.map { case (_, us) => (us - us % hour, 1L) })
  }

  test("midpointMicros splits an odd min+max sum the way the oracles' nanos midpoint does") {
    val s = spark
    import s.implicits._
    val a = t0
    val b = a + 2 * hour + 1 // a + b is odd
    val floorMid = Math.floorDiv(a + b, 2L)
    val ts = Seq(a, floorMid - 1, floorMid, floorMid + 1, b)
    val ev = ts.toDF("ts")
    val mid = EventStream.midpointMicros(ev)
    // the oracles: epoch_us(ts) * 1000 < (MIN + MAX) // 2, in nanos
    val oracleMidNs = (a * 1000 + b * 1000) / 2
    val oracleFirst = ts.filter(_ * 1000 < oracleMidNs)
    val first = ev.filter(col("ts") < mid).as[Long].collect().toSeq.sorted
    assert(oracleFirst.contains(floorMid)) // the event on the floor stays first
    assert(first == oracleFirst, s"mid $mid, naive ${(a + b) / 2}")
  }
}
