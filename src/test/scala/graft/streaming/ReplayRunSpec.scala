package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Replay.run]], the one MemoryStream replay of the registered streaming
  * queries: it feeds thirds then the sentinel batch, and leaves neither a
  * running query, a sink view nor a changed `spark.sql.shuffle.partitions`
  * behind, even when a batch throws. */
class ReplayRunSpec extends SparkSpec {

  private val Parts = "spark.sql.shuffle.partitions"

  test("Replay.run feeds three near-equal batches, then the sentinel batch") {
    assert(Replay.batches(1 to 10, Seq(99)) ==
      Seq(1 to 3, 4 to 6, 7 to 10, Seq(99)))
    assert(Replay.batches(1 to 10, Nil).size == 3)
    val s = spark
    import s.implicits._
    // each micro-batch reads one current_timestamp, so the sink's rows
    // group into one timestamp per batch
    val out = Replay.run(s, (1L to 10L).toVector, Seq("v"), Some(2),
        "append", last = Seq(99L)) {
      _.withColumn("batch_ts", current_timestamp())
    }
    val perBatch = out.groupBy("batch_ts")
      .agg(sort_array(collect_list(col("v"))).as("vs"))
      .orderBy("batch_ts").select("vs").as[Seq[Long]].collect().toSeq
    assert(perBatch == Seq(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L),
      Seq(7L, 8L, 9L, 10L), Seq(99L)))
  }

  test("Replay.run restores shuffle.partitions and stops its query, " +
      "after a normal run and after a batch that throws") {
    val s = spark
    import s.implicits._
    val before = s.conf.get(Parts)
    Replay.run(s, Seq(1L, 2L, 3L), Seq("v"), Some(1), "append")(identity)
    assert(s.conf.get(Parts) == before)
    assert(s.streams.active.isEmpty)

    val boom = udf((v: Long) => {
      if (v == 5L) throw new IllegalStateException("boom")
      v
    })
    intercept[Exception] {
      Replay.run(s, 1L to 9L, Seq("v"), Some(1), "append") {
        _.select(boom(col("v")).as("v"))
      }
    }
    assert(s.conf.get(Parts) == before)
    assert(s.streams.active.isEmpty)
    assert(sinkViews.isEmpty)
  }

  private def sinkViews: Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq
      .filter(_.startsWith("replay_sink_"))

  test("Replay.run drops its sink view; the returned frames keep their rows") {
    val s = spark
    import s.implicits._
    val outs = (1 to 3).map { k =>
      Replay.run(s, (1L to 300L).map(_ * k).toVector, Seq("v"), Some(1),
        "append")(identity)
    }
    assert(sinkViews.isEmpty)
    outs.zipWithIndex.foreach { case (out, i) =>
      assert(out.as[Long].collect().sorted.toSeq == (1L to 300L).map(_ * (i + 1)))
    }
  }

  test("Replay.run stops its query when feeding a batch throws") {
    val s = spark
    // the second batch cannot be encoded, so the throw comes from the
    // driver-side addData while the query runs and waits for data
    implicit val enc: org.apache.spark.sql.Encoder[ReplayRunSpec.Poison] =
      org.apache.spark.sql.Encoders.javaSerialization[ReplayRunSpec.Poison]
    val rows = Seq(false, false, false, true, false, false)
      .map(new ReplayRunSpec.Poison(_))
    intercept[Exception] {
      Replay.run(s, rows, Seq("value"), None, "append")(identity)
    }
    assert(s.streams.active.isEmpty)
  }
}

object ReplayRunSpec {
  /** A row that Java serialization refuses when `bad`. */
  class Poison(val bad: Boolean) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit =
      if (bad) throw new java.io.NotSerializableException("poison")
      else out.defaultWriteObject()
  }
}
