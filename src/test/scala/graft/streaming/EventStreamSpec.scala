package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EventStreamSpec extends SparkSpec {

  // the canonical events scan: ts as long epoch micros
  private def events = graft.queries.Relational.t(spark, sf(), "events")

  test("streaming tumbling counts equal the batch plan") {
    val streamed = EventStream.runStreamingCounts(spark, sf(), "stream_counts")
      .orderBy("wstart", "event_type").collect()
    val batch = EventStream.tumblingCounts(events)
      .orderBy("wstart", "event_type").collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("streaming sliding counts equal the batch plan") {
    // raw on-disk schema (the stream reads the raw dir); tsMicros at the
    // source gives the operator the same micros ts as the batch scan
    val schema = spark.read.parquet(s"${sf()}/events.parquet").schema
    val stream = EventStream.tsMicros(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sf()))
    val q = EventStream.slidingCounts(stream).writeStream
      .outputMode("complete").format("memory").queryName("slide_counts").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("slide_counts")
      .orderBy("ws_ms", "event_type").collect()
    val batch = EventStream.slidingCounts(events)
      .orderBy("ws_ms", "event_type").collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("append mode emits watermark-closed windows across micro-batches") {
    import org.apache.spark.sql.functions._
    // split events into 2 files ordered by time; one file per micro-batch
    // so the second batch advances the watermark past the first's windows
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString
    val ev = events.orderBy("ts")
    val n = ev.count()
    val first = ev.limit((n / 2).toInt)
    val rest = ev.exceptAll(first)
    first.coalesce(1).write.parquet(s"$dir/b1")
    rest.coalesce(1).write.parquet(s"$dir/b2")
    val schema = events.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(dir)
    val q = EventStream.tumblingCounts(stream).writeStream
      .outputMode("append").format("memory").queryName("appended").start()
    q.processAllAvailable()
    q.stop()
    val appended = spark.table("appended")
    // every emitted window must match the batch computation exactly
    val batch = EventStream.tumblingCounts(events)
    val joined = appended.as("s").join(batch.as("b"),
      col("s.wstart") === col("b.wstart") && col("s.event_type") === col("b.event_type"))
    assert(appended.count() > 0, "append mode emitted nothing")
    assert(joined.count() == appended.count(), "streamed window disagrees with batch")
    assert(joined.filter(col("s.n") =!= col("b.n")).count() == 0)
  }

  test("sessionization: sessions respect the inactivity gap and cover all events") {
    val sessions = EventStream.sessionize(events, gapMinutes = 30).collect()
    val nEvents = events.count()
    assert(sessions.map(_.nEvents.toLong).sum == nEvents)
    // sessions of one user never overlap and are gap-separated
    sessions.groupBy(_.user_id).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_.startMicros)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.startMicros - a.endMicros > 30L * 60 * 1000000)
        case _ =>
      }
    }
    // spot-check one user against a direct computation
    val u = sessions.map(_.user_id).head
    val times = events.filter(col("user_id") === u)
      .select(col("ts")).collect().map(_.getLong(0)).sorted
    var expected = 1
    times.sliding(2).foreach {
      case Array(a, b) => if (b - a > 30L * 60 * 1000000) expected += 1
      case _ =>
    }
    assert(sessions.count(_.user_id == u) == expected)
  }

  test("streaming dedup: duplicated micro-batch collapses to the distinct id set") {
    val dir = java.nio.file.Files.createTempDirectory("evdedup").toString
    val ev = events.filter(col("event_id") < 500)
    ev.coalesce(1).write.parquet(s"$dir/b1")
    ev.coalesce(1).write.parquet(s"$dir/b2") // the same rows again
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(dir)
    val q = EventStream.dedupEvents(stream).writeStream
      .outputMode("append").format("memory").queryName("deduped").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("deduped").select("event_id")
      .collect().map(_.getLong(0))
    assert(streamed.length == streamed.distinct.length, "stream emitted a duplicate id")
    assert(streamed.toSet == ev.select("event_id").collect().map(_.getLong(0)).toSet)
    // batch path: plain distinct-by-id
    assert(EventStream.dedupEvents(ev.unionAll(ev)).count() == ev.count())
  }

  test("streaming sessionize keeps open sessions across micro-batches (no split/double-emit)") {
    // Two time-ordered files = two micro-batches. A session spanning the
    // file boundary must come out as ONE session, and nothing may be
    // emitted twice. Sessions still open at the end (watermark never
    // passes their last + gap) legitimately stay unemitted in append mode,
    // so compare only CLOSED sessions against the batch run.
    val dir = java.nio.file.Files.createTempDirectory("evsess").toString
    val ev = events.orderBy("ts")
    val n = ev.count()
    val first = ev.limit((n / 2).toInt)
    first.coalesce(1).write.parquet(s"$dir/b1")
    ev.exceptAll(first).coalesce(1).write.parquet(s"$dir/b2")
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(dir)
    val q = EventStream.sessionize(stream, gapMinutes = 30).writeStream
      .outputMode("append").format("memory").queryName("sessions_stream").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sessions_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val batchAll = EventStream.sessionize(events, gapMinutes = 30).collect()
      .map(s => (s.user_id, s.startMicros, s.endMicros, s.nEvents)).toSet
    assert(streamed.nonEmpty, "no session closed across the micro-batches")
    // every streamed (closed) session appears verbatim in the batch result:
    // a session split at the micro-batch boundary would not
    assert(streamed.subsetOf(batchAll),
      s"streamed sessions disagree with batch: ${streamed.diff(batchAll).take(3)}")
    // no double emission of the same (user, start)
    val keys = spark.table("sessions_stream").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length)
  }

  test("sessionWindows (built-in session_window) matches the stateful sessionize on batch") {
    val viaBuiltin = EventStream.sessionWindows(events, gapMinutes = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val viaState = EventStream.sessionize(events, gapMinutes = 30).collect()
      .map(s => (s.user_id, s.startMicros, s.endMicros, s.nEvents.toLong)).toSet
    assert(viaBuiltin == viaState)
  }

  test("sessionWindows runs as a streaming query and closed sessions match batch") {
    val dir = java.nio.file.Files.createTempDirectory("evsessw").toString
    val ev = events.orderBy("ts")
    val n = ev.count()
    val first = ev.limit((n / 2).toInt)
    first.coalesce(1).write.parquet(s"$dir/b1")
    ev.exceptAll(first).coalesce(1).write.parquet(s"$dir/b2")
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(dir)
    val q = EventStream.sessionWindows(stream, gapMinutes = 30).writeStream
      .outputMode("append").format("memory").queryName("sessw_stream").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sessw_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batchAll = EventStream.sessionWindows(events, gapMinutes = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed.nonEmpty, "no session closed behind the watermark")
    assert(streamed.subsetOf(batchAll),
      s"streamed session_window disagrees with batch: ${streamed.diff(batchAll).take(3)}")
  }

  test("funnelTransitions: batch counts == funnel; in-order streaming replay == batch") {
    // batch: transitions grouped by step reproduce the funnel counts
    val batchTrans = EventStream.funnelTransitions(events,
        Seq("view", "click", "purchase"), windowMinutes = 2880)
      .collect().map(t => (t.user_id, t.step, t.stage, t.us)).toSet
    val funnelCounts = EventStream.funnel(events,
        Seq("view", "click", "purchase"), windowMinutes = 2880)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    val transCounts = batchTrans.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(transCounts == funnelCounts.filter(_._2 > 0))
    // streaming: two time-ordered micro-batches, same state function ->
    // identical transition set
    val dir = java.nio.file.Files.createTempDirectory("evfunnel").toString
    val ev = events.orderBy("ts")
    val n = ev.count()
    val first = ev.limit((n / 2).toInt)
    first.coalesce(1).write.parquet(s"$dir/b1")
    ev.exceptAll(first).coalesce(1).write.parquet(s"$dir/b2")
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(dir)
    val q = EventStream.funnelTransitions(stream,
        Seq("view", "click", "purchase"), windowMinutes = 2880)
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_stream").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("funnel_stream")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    // in-order replay reproduces every batch transition ...
    assert(batchTrans.subsetOf(streamed),
      s"stream lost batch transitions: ${batchTrans.diff(streamed).take(3)}")
    // ... and anything extra is a NEW attempt: state eviction after a
    // lapsed window lets a later stage-1 event re-anchor, which batch's
    // single-anchor pass doesn't model — every extra row postdates the
    // user's batch anchor by more than the window
    val winUs = 2880L * 60L * 1000000L
    val anchor = batchTrans.filter(_._2 == 1).map(t => t._1 -> t._4).toMap
    val extra = streamed.diff(batchTrans)
    assert(extra.forall { case (u, _, _, us) =>
      anchor.get(u).exists(a => us > a + winUs) },
      s"extra transition inside a live batch window: ${extra.take(3)}")
  }

  test("funnelTransitions streaming: lapsed mid-funnel state is evicted after the watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val h = 3600L * 1000000L // an hour in micros
    val mem = MemoryStream[(Long, String, Long)]
    val q = EventStream.funnelTransitions(
        mem.toDF.toDF("user_id", "event_type", "ts"),
        Seq("view", "click"), windowMinutes = 60, lateness = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_evict").start()
    def feed(rows: (Long, String, Long)*): Unit = {
      mem.addData(rows: _*); q.processAllAvailable()
    }
    // b1: user 7 anchors (view at t=1h — off epoch 0, which the INITIAL
    // watermark would drop as late), never clicks
    feed((7L, "view", 1L * h), (99L, "view", 1L * h))
    // b2: far-future filler advances the watermark way past 1h + 60min
    feed((99L, "click", 100L * h))
    // b3: another filler batch so user 7's expired timeout FIRES
    feed((99L, "view", 101L * h))
    // b4: user 7 views again — only possible to emit if the lapsed state
    // was evicted (kept state would demand "click" and ignore a view)
    feed((7L, "view", 102L * h))
    q.stop()
    val user7 = spark.table("funnel_evict")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3)))
      .filter(_._1 == 7L).sortBy(_._3)
    assert(user7.toSeq == Seq((7L, 1, 1L * h), (7L, 1, 102L * h)),
      s"expected re-anchor after eviction, got ${user7.toSeq}")
  }

  test("kmvDistinctWindowed: batch equals per-window kmvDistinct; streaming emits each closed window once, identically") {
    val s = spark
    import s.implicits._
    // batch face vs the batch sketch grouped by the same hour bucket
    val batch = EventStream.kmvDistinctWindowed(events, "user_id")
      .collect().map(e => (e.wstart_us, e.n_hashes, e.est_distinct)).toSet
    val viaBatchOp = graft.operators.Sketches.kmvDistinct(
        EventStream.withTs(events).withColumn("w",
          unix_micros(col("ets")) - pmod(unix_micros(col("ets")), lit(3600000000L))),
        "user_id", "w")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(batch.nonEmpty)
    batch.foreach { case (w, _, est) =>
      assert(math.abs(viaBatchOp(w) - est) < 1e-9, s"window $w: $est vs ${viaBatchOp(w)}")
    }
    // streaming: 3-chunk replay + a far-future sentinel to close every
    // real window; each closed window emits exactly once and matches
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = events.select("user_id", "ts")
      .as[(Long, Long)].collect().sortBy(_._2)
    val sentinelTs = rows.last._2 + 10L * 24 * 3600 * 1000000L
    val mem = MemoryStream[(Long, Long)]
    val q = EventStream.kmvDistinctWindowed(
        mem.toDF.toDF("user_id", "ts"), "user_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("kmv_win").start()
    val n = rows.length
    Seq(rows.slice(0, n / 3).toSeq, rows.slice(n / 3, 2 * n / 3).toSeq,
        rows.slice(2 * n / 3, n).toSeq, Seq((999999L, sentinelTs)))
      .foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    q.stop()
    val sentinelW = sentinelTs - sentinelTs % 3600000000L
    val streamed = spark.table("kmv_win")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .filter(_._1 < sentinelW)
    assert(streamed.length == streamed.map(_._1).distinct.length,
      "a window emitted more than once")
    assert(streamed.toSet == batch,
      s"missing ${batch.diff(streamed.toSet).take(3)}, extra ${streamed.toSet.diff(batch).take(3)}")
  }

  test("rateSpikes: integer trailing-mean ratio, partial histories suppressed") {
    val s = spark
    import s.implicits._
    val h = 3600L * 1000000L // one hour in micros
    // one type, hourly counts 2, 2, 2, 8: only window 4 has a full
    // trailing-3 history; its ratio = 8*3*1e6/6 = 4e6 (a 4x spike)
    val rows = (0 until 2).map(i => (1L + i, "x", 0L * h + i)) ++
      (0 until 2).map(i => (10L + i, "x", 1L * h + i)) ++
      (0 until 2).map(i => (20L + i, "x", 2L * h + i)) ++
      (0 until 8).map(i => (30L + i, "x", 3L * h + i))
    val ev = rows.toDF("user_id", "event_type", "ts")
    val out = EventStream.rateSpikes(ev, windowMinutes = 60, trailing = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((3L * 3600L * 1000000L, "x", 8L, 6L, 4000000L)),
      s"got ${out.toSeq}")
  }

  test("cmsCountersWindowed: batch counters equal a direct per-window bucket count; streaming ships each closed window's sketch once, identically") {
    val s = spark
    import s.implicits._
    // batch face vs a plain groupBy replay of the same bucket formula
    val batch = EventStream.cmsCountersWindowed(events, "event_type", width = 64)
      .collect().map(c => (c.wstart_us, c.i, c.b, c.c)).toSet
    val direct = EventStream.withTs(events)
      .select(
        (unix_micros(col("ets")) - pmod(unix_micros(col("ets")), lit(3600000000L))).as("w"),
        (conv(substring(md5(concat(lit("c0_"), col("event_type"))), 1, 13), 16, 10)
          .cast("long") % 64).cast("int").as("b0"),
        (conv(substring(md5(concat(lit("c1_"), col("event_type"))), 1, 13), 16, 10)
          .cast("long") % 64).cast("int").as("b1"))
      .select(col("w"), explode(array(
        struct(lit(0).as("i"), col("b0").as("b")),
        struct(lit(1).as("i"), col("b1").as("b")))).as("x"))
      .groupBy(col("w"), col("x.i"), col("x.b")).count()
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(batch.nonEmpty && batch == direct)
    // streaming: 3-chunk in-order replay + far-future sentinel closes all
    // real windows; each emits its counters exactly once, matching batch
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = events.select("event_type", "ts")
      .as[(String, Long)].collect().sortBy(_._2)
    val sentinelTs = rows.last._2 + 10L * 24 * 3600 * 1000000L
    val mem = MemoryStream[(String, Long)]
    val q = EventStream.cmsCountersWindowed(
        mem.toDF.toDF("event_type", "ts"), "event_type", width = 64)
      .writeStream.outputMode("append").format("memory")
      .queryName("cms_win").start()
    val n = rows.length
    Seq(rows.slice(0, n / 3).toSeq, rows.slice(n / 3, 2 * n / 3).toSeq,
        rows.slice(2 * n / 3, n).toSeq, Seq(("zzz", sentinelTs)))
      .foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    q.stop()
    val sentinelW = sentinelTs - sentinelTs % 3600000000L
    val streamed = spark.table("cms_win")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .filter(_._1 < sentinelW)
    assert(streamed.length == streamed.map(t => (t._1, t._2, t._3)).distinct.length,
      "a (window, i, b) counter emitted more than once")
    assert(streamed.toSet == batch,
      s"missing ${batch.diff(streamed.toSet).take(3)}, extra ${streamed.toSet.diff(batch).take(3)}")
  }

  test("intervalJoin: streaming 3-batch replay equals the batch join, with cross-batch pairs") {
    val batch = EventStream.intervalJoin(events, "view", "click", 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty, "no view->click pairs in the fixture")
    // streaming self-join: one MemoryStream, both sides filtered from it
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = events.select("user_id", "event_type", "ts", "value")
      .as[(Long, String, Long, Double)].collect().sortBy(_._3)
    val mem = MemoryStream[(Long, String, Long, Double)]
    val q = EventStream.intervalJoin(
        mem.toDF.toDF("user_id", "event_type", "ts", "value"),
        "view", "click", 30)
      .writeStream.outputMode("append").format("memory")
      .queryName("ij_stream").start()
    // split the replay at the midpoint of a real (view, click) pair so a
    // cross-batch match is exercised BY CONSTRUCTION: the view arrives in
    // chunk 1, its click in chunk 2, and only buffered join state can
    // pair them
    val (_, pv, pc) = batch.find { case (_, v, c) => c > v }
      .getOrElse(fail("no strictly-ordered pair in the fixture"))
    val cut = (pv + pc) / 2
    val (c1, c2) = rows.partition(_._3 <= cut)
    assert(c1.nonEmpty && c2.nonEmpty)
    Seq(c1, c2).foreach { c => mem.addData(c.toSeq: _*); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("ij_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch,
      s"missing ${batch.diff(streamed).take(3)}, extra ${streamed.diff(batch).take(3)}")
  }

  test("intervalJoinOuter: unmatched views emit NULL rows only after the watermark closes their window") {
    // batch face: a LEFT join — every view appears, matched or not
    val batch = EventStream.intervalJoinOuter(events, "view", "click", 30)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val inner = EventStream.intervalJoin(events, "view", "click", 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.filter(_._3 >= 0) == inner, "matched rows must equal the inner join")
    assert(batch.exists(_._3 == -1L), "fixture needs at least one unmatched view")
    // streaming replay: null rows require the watermark to pass the
    // window — a far-future view+click sentinel pair flushes them
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = events.select("user_id", "event_type", "ts", "value")
      .as[(Long, String, Long, Double)].collect().sortBy(_._3)
    val sentinelTs = rows.map(_._3).max + 10L * 24 * 3600 * 1000000L
    val mem = MemoryStream[(Long, String, Long, Double)]
    val q = EventStream.intervalJoinOuter(
        mem.toDF.toDF("user_id", "event_type", "ts", "value"),
        "view", "click", 30)
      .writeStream.outputMode("append").format("memory")
      .queryName("ijo_stream").start()
    val n = rows.length
    Seq(rows.slice(0, n / 2).toSeq, rows.slice(n / 2, n).toSeq,
        Seq((999999L, "view", sentinelTs, 0.0),
          (999999L, "click", sentinelTs, 0.0)))
      .foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("ijo_stream")
      .filter(col("user_id") =!= 999999L)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(streamed == batch,
      s"missing ${batch.diff(streamed).take(3)}, extra ${streamed.diff(batch).take(3)}")
  }

  test("funnelTransitions streaming: completed users are tombstoned — no re-anchor inside the live window") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val h = 3600L * 1000000L // an hour in micros
    val mem = MemoryStream[(Long, String, Long)]
    val q = EventStream.funnelTransitions(
        mem.toDF.toDF("user_id", "event_type", "ts"),
        Seq("view", "click"), windowMinutes = 60, lateness = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_tomb").start()
    def feed(rows: (Long, String, Long)*): Unit = {
      mem.addData(rows: _*); q.processAllAvailable()
    }
    // b1: user 5 completes the funnel at t=1h (view + click)
    feed((5L, "view", 1L * h), (5L, "click", 1L * h + 60L * 1000000L))
    // b2: user 5 views AGAIN, still inside the attempt's 60-min window —
    // the tombstone must swallow it (batch's single-anchor pass would)
    feed((5L, "view", 1L * h + 120L * 1000000L))
    // b3-b4: filler advances the watermark far past 1h + 60min, the
    // tombstone's timeout fires and evicts it
    feed((99L, "view", 100L * h))
    feed((99L, "view", 101L * h))
    // b5: NOW a new view re-anchors a fresh attempt
    feed((5L, "view", 102L * h))
    q.stop()
    val user5 = spark.table("funnel_tomb")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3)))
      .filter(_._1 == 5L).sortBy(_._3)
    assert(user5.toSeq == Seq(
      (5L, 1, 1L * h),            // original anchor
      (5L, 2, 1L * h + 60000000L), // completion
      (5L, 1, 102L * h)),          // re-anchor only AFTER eviction
      s"expected tombstoned completion then post-window re-anchor, got ${user5.toSeq}")
  }

  test("funnel: strict ordering, per-step window, monotone narrowing") {
    val s = spark
    import s.implicits._
    val m = 60L * 1000000L // a minute in micros
    def ev(user: Long, typ: String, minute: Long) = (user, typ, minute * m)
    val events = Seq(
      ev(1, "view", 0), ev(1, "click", 10), ev(1, "purchase", 20), // full convert
      ev(2, "view", 0), ev(2, "click", 10), //                        no purchase
      ev(3, "click", 0), ev(3, "view", 10), //                        click BEFORE view: not step 2
      ev(4, "view", 0), ev(4, "click", 200), //                       click outside 60-min window
      ev(5, "purchase", 0) //                                         never entered
    ).toDF("user_id", "event_type", "ts")
    val out = EventStream.funnel(events, Seq("view", "click", "purchase"),
        windowMinutes = 60)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((1, "view", 4L), (2, "click", 2L), (3, "purchase", 1L)))
  }

  test("attribution: window bounds, tie-break, zero-touch conversions") {
    val s = spark
    import s.implicits._
    val m = 60L * 1000000L // one minute in micros
    // user 1: touches at t=1,5,9 min around a conversion at t=10 min with
    // a 5-minute lookback -> touches at 5 (edge: ts-lookback inclusive)
    // and 9 qualify; t=1 is too old; a touch AT t=10 is excluded (strict <)
    val ev = Seq(
      (100L, 1L, "click", 1 * m),
      (101L, 1L, "view", 5 * m),
      (102L, 1L, "click", 9 * m),
      (103L, 1L, "view", 10 * m),
      (104L, 1L, "purchase", 10 * m),
      // user 2: no touches at all
      (105L, 2L, "purchase", 10 * m),
      // user 3: two touches at the SAME timestamp -> event_id breaks the tie
      (106L, 3L, "view", 9 * m),
      (107L, 3L, "click", 9 * m),
      (108L, 3L, "purchase", 10 * m)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.attribution(ev, "purchase", lookbackMinutes = 5)
      .collect().map(r => r.getLong(0) -> (
        r.getLong(3), Option(r.getString(4)), Option(r.getString(6)))).toMap
    assert(out(104L) == ((2L, Some("view"), Some("click"))))   // first=t5 view, last=t9 click
    assert(out(105L) == ((0L, None, None)))
    assert(out(108L) == ((2L, Some("view"), Some("click"))))   // tie: min/max event_id
  }


  test("transitionMatrix: hand-traced sequences; last events drop; ppm rows sum right") {
    val s = spark
    import s.implicits._
    val m = 60L * 1000000L
    // user 1: a b a b ; user 2: a b  -> transitions a->b x3, b->a x1
    val ev = Seq(
      (1L, 1L, "a", 1 * m), (2L, 1L, "b", 2 * m),
      (3L, 1L, "a", 3 * m), (4L, 1L, "b", 4 * m),
      (5L, 2L, "a", 5 * m), (6L, 2L, "b", 6 * m)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.transitionMatrix(ev)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(("a", "b") -> ((3L, 1000000L)), ("b", "a") -> ((1L, 1000000L))))
  }

  test("peakConcurrency: sweep-line peak, starts-before-ends ties, per-day partition") {
    val s = spark
    import s.implicits._
    val sec = 1000000L // micros
    val day = 86400L * sec
    val ev = Seq(
      // day 0: u1 [600s, 3000s], u2 [2400s, 4800s], u3 point at 3000s
      (1L, 1L, "a", 600 * sec), (2L, 1L, "a", 3000 * sec),
      (3L, 2L, "a", 2400 * sec), (4L, 2L, "a", 4800 * sec),
      (5L, 3L, "a", 3000 * sec),
      // day 1: one event
      (6L, 1L, "a", day + 100 * sec)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.peakConcurrency(ev)
      .collect().map(r => r.getAs[Long]("day") ->
        (r.getAs[Long]("n_intervals"), r.getAs[Long]("peak"),
          r.getAs[Long]("t_peak_us"))).toMap
    // at t=3000s the u3 start sorts before the two ends -> conc 3
    assert(out == Map(
      0L -> ((3L, 3L, 3000L * 1000000L)),
      1L -> ((1L, 1L, (86400L + 100L) * 1000000L))))
  }

  test("decayedCounts: power-of-two half-life decay, newest bucket is the reference") {
    val s = spark
    import s.implicits._
    val h = 3600L * 1000000L // one hour in micros
    // type a: 8 events 24h old + 1 now; type b: 4 events now.
    // halflife = 24 buckets -> the old 8 decay to 8>>1 = 4 (scale 1):
    // a = 4 + 1 = 5, b = 4.
    val ev = (1L to 8L).map(i => (i, 1L, "a", 0 * h)) ++
      Seq((9L, 1L, "a", 24 * h)) ++ (10L to 13L).map(i => (i, 2L, "b", 24 * h))
    val out = EventStream.decayedCounts(ev.toDF("event_id", "user_id", "event_type", "ts"),
        windowMinutes = 60, halflifeBuckets = 24, scale = 1L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map("a" -> ((9L, 5L)), "b" -> ((4L, 4L))))
    // order: decayed desc
    val first = EventStream.decayedCounts(
      ev.toDF("event_id", "user_id", "event_type", "ts"),
      windowMinutes = 60, halflifeBuckets = 24, scale = 1L).head()
    assert(first.getString(0) == "a")
  }

  test("botSignals: gap/burst rules, single-event user keeps a NULL gap") {
    val s = spark
    import s.implicits._
    val sec = 1000000L
    val ev = Seq(
      // u1: 3 events, min gap 0.5 s  -> gap rule fires
      (1L, 1L, "a", 10 * sec), (2L, 1L, "b", 10 * sec + sec / 2),
      (3L, 1L, "a", 20 * sec),
      // u2: 2 events 100 s apart -> human
      (4L, 2L, "a", 0 * sec), (5L, 2L, "a", 100 * sec),
      // u3: single event -> NULL gap, no flag
      (6L, 3L, "c", 5 * sec)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.botSignals(ev, minGapUs = 1000000L, burstPerMin = 10L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Long]), r.getLong(5),
          r.getInt(6))).toMap
    assert(out(1L) == ((3L, 2L, 10L * 1000000L, Some(500000L), 3L, 1)))
    assert(out(2L) == ((2L, 1L, 100L * 1000000L, Some(100000000L), 1L, 0)))
    assert(out(3L) == ((1L, 1L, 0L, None, 1L, 0)))
    // burst rule alone: 10 events inside one minute, gaps of 5 s
    val burst = (0L until 10L).map(i => (100 + i, 9L, "a", i * 5 * sec))
      .toDF("event_id", "user_id", "event_type", "ts")
    val b = EventStream.botSignals(burst, minGapUs = 1000000L, burstPerMin = 10L)
      .collect().head
    assert(b.getLong(5) == 10L && b.getInt(6) == 1)
  }

  test("dwellTimes: dwell attributed to the state being left; last events drop") {
    val s = spark
    import s.implicits._
    val sec = 1000000L
    // u1: browse(0s) -> buy(10s) -> browse(15s, last)
    // u2: browse(0s) -> browse(30s, last)
    val ev = Seq(
      (1L, 1L, "browse", 0 * sec), (2L, 1L, "buy", 10 * sec),
      (3L, 1L, "browse", 15 * sec),
      (4L, 2L, "browse", 0 * sec), (5L, 2L, "browse", 30 * sec)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.dwellTimes(ev)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // browse stays: u1 0->10s, u2 0->30s; buy stays: u1 10->15s
    assert(out("browse") == ((2L, 40L * 1000000L, 20L * 1000000L, 30L * 1000000L)))
    assert(out("buy") == ((1L, 5L * 1000000L, 5L * 1000000L, 5L * 1000000L)))
  }

  test("topPaths: overlapping windows counted, cross-user paths never form, rank caps") {
    val s = spark
    import s.implicits._
    val sec = 1000000L
    // u1: a b c b c -> abc, bcb, cbc ; u2: a b c -> abc
    val ev = (Seq(("a", 1), ("b", 2), ("c", 3), ("b", 4), ("c", 5))
        .zipWithIndex.map { case ((t, ts), i) => (i.toLong, 1L, t, ts * sec) } ++
      Seq((10L, 2L, "a", 1 * sec), (11L, 2L, "b", 2 * sec),
        (12L, 2L, "c", 3 * sec)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.topPaths(ev, pathLen = 3, topK = 10)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(out("a>b>c") == ((2L, 1)))
    assert(out("b>c>b") == ((1L, 2)))
    assert(out("c>b>c") == ((1L, 3)))
    assert(out.size == 3)
    // topK = 1 keeps only the winner
    assert(EventStream.topPaths(ev, pathLen = 3, topK = 1).count() == 1L)
  }

  test("rfmSegments: quintiles split a 5-user population one per bucket; segment concatenates") {
    val s = spark
    import s.implicits._
    val sec = 1000000L
    // 5 users: user i has i+1 purchases at times i*100s.. and value 10*(i+1)
    val ev = (0 until 5).flatMap { i =>
      (0 to i).map(j => ((i * 10 + j).toLong, i.toLong, "purchase",
        (i * 100 + j).toLong * sec, 10.0 * (i + 1)))
    }.toDF("event_id", "user_id", "event_type", "ts", "value")
    val out = EventStream.rfmSegments(ev, "purchase")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(7))).toMap
    // user 4: newest last purchase, most purchases, biggest spend -> 555
    assert(out(4L)._4 == "555")
    assert(out(0L)._4 == "111")
    assert(out(4L)._1 == 0L) // recency 0: owns the reference time
    assert(out(2L)._2 == 3L && math.abs(out(2L)._3 - 90.0) < 1e-9)
    // non-purchase types never contribute
    val mixed = ev.unionAll(Seq((99L, 0L, "error", 1L * sec, 1000.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value"))
    assert(EventStream.rfmSegments(mixed, "purchase")
      .filter($"user_id" === 0L).head().getDouble(3) == 10.0)
  }

  test("bounceRates: gap splits sessions; single-event session bounces; exit accounting") {
    val s = spark
    import s.implicits._
    val min = 60L * 1000000L
    val ev = Seq(
      // u1 session 1: a(0) b(5m) -> entry a, exit b, no bounce
      (1L, 1L, "a", 0 * min), (2L, 1L, "b", 5 * min),
      // u1 session 2 (40m gap): a alone -> bounce, exit a
      (3L, 1L, "a", 45 * min),
      // u2: single session b -> bounce
      (4L, 2L, "b", 0 * min)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.bounceRates(ev, gapMinutes = 30)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("a") == ((2L, 1L, 500000L, 1L)))
    assert(out("b") == ((1L, 1L, 1000000L, 1L)))
  }

  test("changePoints: the drawup peaks where the level shift ends; flat series peaks at 0") {
    val s = spark
    import s.implicits._
    val h = 3600L * 1000000L
    // type a: hours 0-3 at 1 event, hours 4-7 at 5 events
    // n=8, sx=24; dev = 8x-24: low hours -16, high hours +16
    // S: -16,-32,-48,-64,-48,-32,-16,0; runmin tracks -64
    // drawup peaks at 64 in hour 7 (end of the shift)
    val a = (0 until 4).flatMap(i => Seq((i * 10L, 1L, "a", i * h))) ++
      (4 until 8).flatMap(i => (0 until 5).map(j =>
        (i * 100L + j, 1L, "a", i * h)))
    // type b: flat 2/hour -> dev 0 everywhere, drawup 0, earliest hour wins
    val b = (0 until 4).flatMap(i =>
      (0 until 2).map(j => (1000L + i * 10 + j, 2L, "b", i * h)))
    val ev = (a ++ b).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.changePoints(ev, windowMinutes = 60)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("a") == ((8L, 64L, 7L * 3600L * 1000000L)))
    assert(out("b") == ((4L, 0L, 0L)))
  }

  test("trendSlopes: exact unit slope, flat series reports 0, single window guarded") {
    val s = spark
    import s.implicits._
    val day = 86400L * 1000000L
    // type a: 1,2,3 events on days 0,1,2 -> slope exactly +1/day
    val a = (0 until 3).flatMap(i => (0 to i).map(j =>
      ((i * 10 + j).toLong, 1L, "a", i * day)))
    // type b: 2,2,2 -> slope 0 with nonzero den
    val b = (0 until 3).flatMap(i => (0 until 2).map(j =>
      ((100 + i * 10 + j).toLong, 1L, "b", i * day)))
    // type c: one day only -> num = den = 0 -> slope 0
    val c = Seq((200L, 1L, "c", 0 * day))
    val ev = (a ++ b ++ c).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.trendSlopes(ev, windowMinutes = 1440)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(4))).toMap
    assert(out("a") == ((3L, 1000L)))
    assert(out("b") == ((3L, 0L)))
    assert(out("c") == ((1L, 0L)))
  }

  test("behaviorDiversity: single-type user scores 0; uniform two-type user 500000") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (1L, 1L, "a", 0L), (2L, 1L, "a", 1L), (3L, 1L, "a", 2L),
      (4L, 2L, "a", 0L), (5L, 2L, "b", 1L),
      (6L, 3L, "a", 0L), (7L, 3L, "a", 1L), (8L, 3L, "b", 2L), (9L, 3L, "c", 3L)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.behaviorDiversity(ev)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((3L, 1L, 0L)))
    assert(out(2L) == ((2L, 2L, 500000L)))
    // user 3: 4 events (2,1,1) -> 1 - 6/16 = 0.625
    assert(out(3L) == ((4L, 3L, 625000L)))
  }

  test("interArrivalHistogram: octave = binary length of the micro gap; shares sum") {
    val s = spark
    import s.implicits._
    // gaps for type a: 1us (bin '1' -> octave 1), 3us ('11' -> 2),
    // 8us ('1000' -> 4); plus a zero gap -> octave 0
    val ev = Seq(
      (1L, 1L, "a", 0L), (2L, 1L, "a", 1L), (3L, 1L, "a", 4L),
      (4L, 1L, "a", 12L), (5L, 1L, "a", 12L)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.interArrivalHistogram(ev)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out(("a", 1L)) == ((1L, 250000L)))
    assert(out(("a", 2L)) == ((1L, 250000L)))
    assert(out(("a", 4L)) == ((1L, 250000L)))
    assert(out(("a", 0L)) == ((1L, 250000L)))
  }

  test("runningUserFeatures: 3-batch streaming replay converges to the batch aggregate") {
    val s = spark
    import s.implicits._
    val sec = 1000000L
    val rows = Seq((1L, 1 * sec, 1.25), (1L, 3 * sec, 2.50),
      (2L, 2 * sec, 10.00), (1L, 5 * sec, 0.25), (2L, 9 * sec, 0.01))
    val batchDf = rows.toDF("user_id", "ts", "value")
    val batch = EventStream.runningUserFeatures(batchDf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(batch(1L) == ((3L, 5L * 1000000L, 400L)))
    assert(batch(2L) == ((2L, 9L * 1000000L, 1001L)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Double)]
    val q = EventStream.runningUserFeatures(
        mem.toDF.toDF("user_id", "ts", "value"))
      .writeStream.outputMode("update").format("memory")
      .queryName("ruf_sink").start()
    // deliberately unordered split across 3 micro-batches
    Seq(rows.slice(0, 2), rows.slice(2, 3), rows.slice(3, 5))
      .foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    q.stop()
    val fin = s.table("ruf_sink").groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.struct($"n_events", $"last_tus",
          $"sum_cents")).as("f"))
      .collect().map(r => r.getLong(0) -> (r.getStruct(1).getLong(0),
        r.getStruct(1).getLong(1), r.getStruct(1).getLong(2))).toMap
    assert(fin == batch)
  }

  test("conversionLatency: only purchases at-or-after the first signup count; exact quartiles") {
    val s = spark
    import s.implicits._
    val sec = 1000000L
    val ev = Seq(
      (1L, 1L, "purchase", 5 * sec),  // BEFORE u1's signup: ignored
      (2L, 1L, "signup", 10 * sec), (3L, 1L, "purchase", 30 * sec),
      (4L, 2L, "signup", 0 * sec), (5L, 2L, "purchase", 40 * sec),
      (6L, 3L, "signup", 0 * sec),   // never converts
      (7L, 4L, "purchase", 1 * sec)  // never signs up
    ).toDF("event_id", "user_id", "event_type", "ts")
    val r = EventStream.conversionLatency(ev, "signup", "purchase").head()
    assert(r.getAs[Long]("n_converted") == 2L)
    // latencies 20s and 40s -> median 30s interpolated
    assert(r.getAs[Double]("p50_us") == 30.0 * 1000000)
    assert(r.getAs[Long]("max_us") == 40L * 1000000)
  }

  test("weekdayProfile: epoch day 0 is Thursday (dow 3); shares in ppm") {
    val s = spark
    import s.implicits._
    val day = 86400L * 1000000L
    val ev = Seq(
      (1L, 1L, "a", 0 * day),       // 1970-01-01 Thu -> dow 3
      (2L, 1L, "a", 4 * day),       // Monday -> dow 0
      (3L, 1L, "a", 4 * day + 1L),
      (4L, 1L, "a", 11 * day)       // next Monday -> dow 0
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.weekdayProfile(ev)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(3L) == ((1L, 250000L)))
    assert(out(0L) == ((3L, 750000L)))
  }

  test("pitFeatures: strictly-earlier frame — the label event never sees itself") {
    val s = spark
    import s.implicits._
    val sec = 1000000L
    val ev = Seq(
      (1L, 1L, "view", 1 * sec), (2L, 1L, "click", 2 * sec),
      (3L, 1L, "purchase", 3 * sec), // sees 1 view, 1 click, 0 purchases
      (4L, 1L, "purchase", 5 * sec), // sees the FIRST purchase too
      (5L, 2L, "purchase", 7 * sec)  // user 2's first event ever
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.pitFeatures(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getLong(6),
        r.getLong(7))).toMap
    assert(out(3L) == ((1L, 1L, 0L, 1000000L)))
    assert(out(4L) == ((1L, 1L, 1L, 2000000L)))
    assert(out(5L) == ((0L, 0L, 0L, -1L))) // no prior event: sentinel
  }

  test("ltvCohorts: offsets anchor to first-signup week; cumulative is exact") {
    val s = spark
    import s.implicits._
    val week = 7L * 86400 * 1000000L
    val ev = Seq(
      (1L, 1L, "signup", 0L, 0.0),
      (2L, 1L, "purchase", week / 2, 10.5),     // offset 0
      (3L, 1L, "purchase", week + 1L, 2.25),    // offset 1
      (4L, 2L, "signup", week, 0.0),
      (5L, 2L, "purchase", week + 2L, 4.0)      // cohort 1, offset 0
    ).toDF("event_id", "user_id", "event_type", "ts", "value")
    val out = EventStream.ltvCohorts(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out((0L, 0L)) == ((1L, 10.5, 10.5)))
    assert(out((0L, 1L)) == ((1L, 2.25, 12.75)))
    assert(out((1L, 0L)) == ((1L, 4.0, 4.0)))
  }

  test("conversionCurve: first-conversion day offsets; CDF over ALL signups") {
    val s = spark
    import s.implicits._
    val day = 86400L * 1000000L
    val ev = Seq(
      (1L, 1L, "signup", 0L), (2L, 1L, "purchase", day / 2),  // day 0
      (3L, 2L, "signup", 0L), (4L, 2L, "purchase", 3 * day),  // day 3
      (5L, 2L, "purchase", 5 * day),                          // later: ignored
      (6L, 3L, "signup", 0L)                                  // never converts
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.conversionCurve(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(0L) == ((1L, 1L, 333333L)))
    assert(out(3L) == ((1L, 2L, 666666L))) // 2 of 3 signups within 3 days
    assert(!out.contains(5L)) // only FIRST conversions count
  }

  test("watermarkSweep: drop counts fall as the watermark grows; zero at the max lateness") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (1L, 1L, "a", 1000L),
      (2L, 1L, "a", 400L),  // 600us late
      (3L, 1L, "a", 995L)   // 5us late
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.watermarkSweep(ev,
        candidatesUs = Seq(0L, 10L, 1000L))
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(0L) == ((3L, 2L)))    // both late events dropped
    assert(out(10L) == ((3L, 1L)))   // the 5us one survives
    assert(out(1000L) == ((3L, 0L))) // watermark >= max lateness: lossless
  }

  test("naiveBacktest: WAPE against same-weekday-last-week; lead-in days excluded") {
    val s = spark
    import s.implicits._
    val day = 86400L * 1000000L
    def burst(d: Long, n: Int) = (1 to n).map(i =>
      (d * 1000 + i, 1L, "a", d * day + i))
    // day 0: 10; day 7: 15; day 14: 15
    val ev = (burst(0, 10) ++ burst(7, 15) ++ burst(14, 15))
      .toDF("event_id", "user_id", "event_type", "ts")
    val r = EventStream.naiveBacktest(ev).head()
    assert(r.getLong(1) == 2L)             // only days 7 and 14 have a lag-7
    assert(r.getLong(2) == 5L)             // |15-10| + |15-15|
    assert(r.getLong(3) == 30L)
    assert(r.getLong(4) == 5L * 1000000L / 30L)
  }

  test("dauWau: trailing-7 window via fan-out; stickiness exact") {
    val s = spark
    import s.implicits._
    val day = 86400L * 1000000L
    val ev = Seq(
      (1L, 1L, "a", 0 * day), (2L, 2L, "a", 0 * day), // day 0: u1, u2
      (3L, 1L, "a", 3 * day),                         // day 3: u1
      (4L, 3L, "a", 10 * day)                         // day 10: u3 (window reset)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.dauWau(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(0L) == ((2L, 2L, 1000000L)))
    // day 3: active u1; trailing 7 days (day -3..3) saw u1, u2
    assert(out(3L) == ((1L, 2L, 500000L)))
    // day 10: only u3 in the trailing week
    assert(out(10L) == ((1L, 1L, 1000000L)))
    assert(out.keySet == Set(0L, 3L, 10L)) // no ghost days
  }

  test("abAssignment: hash split is deterministic and covers every user once") {
    val s = spark
    import s.implicits._
    val ev = (1L to 40L).flatMap(u => Seq(
      (u * 10, u, "view", u),
      (u * 10 + 1, u, if (u % 4 == 0) "purchase" else "click", u * 2L)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.abAssignment(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set("A", "B"))
    assert(out.values.map(_._1).sum == 40L) // every user in exactly one arm
    assert(out.values.map(_._2).sum == 10L) // all converters accounted for
    val again = EventStream.abAssignment(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == out.map { case (k, v) => k -> v._1 })
  }

  test("markovAccuracy: majority successor per state with name tie-break") {
    val s = spark
    import s.implicits._
    val sec = 1000000L
    // user 1: a->b, a->b, a->c  => top(a)=b, 2/3
    val ev = Seq(
      (1L, 1L, "a", 1 * sec), (2L, 1L, "b", 2 * sec),
      (3L, 1L, "a", 3 * sec), (4L, 1L, "b", 4 * sec),
      (5L, 1L, "a", 5 * sec), (6L, 1L, "c", 6 * sec)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.markovAccuracy(ev).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(out("a") == (("b", 2L, 3L, 666666L)))
    assert(out("b") == (("a", 2L, 2L, 1000000L)))
  }

  test("seasonalAnomaly: deviation judged against the same weekday's baseline") {
    val s = spark
    import s.implicits._
    val day = 86400L * 1000000L
    // Mondays (epoch days 4, 11, 18): counts 10, 10, 40 -> base 20
    def burst(d: Long, n: Int) = (1 to n).map(i =>
      (d * 1000 + i, 1L, "a", d * day + i))
    val ev = (burst(4, 10) ++ burst(11, 10) ++ burst(18, 40))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.seasonalAnomaly(ev, thresholdPpm = 400000L)
      .collect().map(r => r.getLong(1) -> r.getLong(6)).toMap
    // 10 vs 20 -> 500000 ppm off; 40 vs 20 -> 1000000 ppm off
    assert(out == Map(4L -> 500000L, 11L -> 500000L, 18L -> 1000000L))
  }

  test("alertEpisodes: consecutive flagged days coalesce; a gap splits episodes") {
    val s = spark
    import s.implicits._
    val day = 86400L * 1000000L
    // same-dow baseline across 4 weeks: days 0,7,14,21 with counts
    // 10, 40, 40, 10 -> base 25, all four deviate 60% -> all flagged;
    // two NON-adjacent day pairs (0,7) vs (14,21) are 7 apart, so each
    // flagged day is its own episode (gap > 1)
    def burst(d: Long, n: Int) = (1 to n).map(i =>
      (d * 1000 + i, 1L, "a", d * day + i))
    val ev = (burst(0, 10) ++ burst(7, 40) ++ burst(14, 40) ++ burst(21, 10))
      .toDF("event_id", "user_id", "event_type", "ts")
    val eps = EventStream.alertEpisodes(ev, thresholdPpm = 400000L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(eps.length == 4 && eps.forall(e => e._1 == e._2 && e._3 == 1L))
    // adjacent flagged days merge: days 0 and 1, same dow impossible —
    // use two types? simpler: consecutive days flagged via distinct dows
    val ev2 = (burst(0, 10) ++ burst(7, 40) ++ // dow 3 base 25
      burst(1, 10) ++ burst(8, 40))            // dow 4 base 25
      .toDF("event_id", "user_id", "event_type", "ts")
    val eps2 = EventStream.alertEpisodes(ev2, thresholdPpm = 400000L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(eps2 == Set((0L, 1L, 2L), (7L, 8L, 2L))) // runs of 2 merge
  }

  test("freshnessLag: per-type staleness vs the global newest event") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (1L, 1L, "a", 100L), (2L, 1L, "a", 500L),
      (3L, 1L, "b", 200L)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.freshnessLag(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(out("a") == ((100L, 500L, 400L, 0L, 2L)))
    assert(out("b") == ((200L, 200L, 0L, 300L, 1L)))
  }

  test("freqCappedSample: per-user cap, deterministic md5 choice") {
    val s = spark
    import s.implicits._
    val ev = ((1 to 10).map(i => (i.toLong, 1L, "a", i.toLong)) ++
      Seq((100L, 2L, "b", 1L))).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.freqCappedSample(ev, cap = 4).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out("a") == ((10L, 4L, 400000L)))
    assert(out("b") == ((1L, 1L, 1000000L))) // under cap: everything kept
    // repeated run draws the identical sample
    val again = EventStream.freqCappedSample(ev, cap = 4).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(again("a") == 4L)
  }

  test("disorderAudit: lateness vs per-user running max in arrival (event_id) order") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (1L, 1L, "a", 100L), // first arrival: never late
      (2L, 1L, "a", 50L),  // 50us behind the running max (100)
      (3L, 1L, "a", 200L), // ahead: on time
      (4L, 1L, "a", 180L), // 20us behind max (200)
      (5L, 2L, "b", 10L)   // other user, single event
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.disorderAudit(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(out("a") == ((4L, 2L, 500000L, 50L, 70L)))
    assert(out("b") == ((1L, 0L, 0L, 0L, 0L)))
  }

  test("activityHistogram: distinct days per user, then user counts per day-count") {
    val s = spark
    import s.implicits._
    val day = 86400L * 1000000L
    val ev = Seq(
      (1L, 1L, "a", 0L), (2L, 1L, "a", 100L), // same day twice -> 1 day
      (3L, 1L, "a", day), (4L, 2L, "a", 2 * day)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStream.activityHistogram(ev).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(2L -> 1L, 1L -> 1L)) // u1: 2 days, u2: 1 day
  }

  test("outageScan: silent-minute gaps become rows; contiguous traffic doesn't") {
    val s = spark
    import s.implicits._
    val min = 60000000L // a minute of micros
    // active minutes 0,1,2, 5, 9 -> gaps [3,4] (2 min) and [6,8] (3 min)
    val ev = Seq(0L, 1L, 1L, 2L, 5L, 9L).map(m => (m, m * min))
      .toDF("user_id", "ts")
    val out = EventStream.outageScan(ev, minMissing = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((3L, 4L, 2L), (6L, 8L, 3L)))
    // threshold above the widest gap silences everything
    assert(EventStream.outageScan(ev, minMissing = 4).count() == 0L)
  }

  test("enrichStatic: broadcast left join, unknown keys keep NULL dims; stream ≡ batch") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dim = Seq((1L, "SEG_A"), (2L, "SEG_B")).toDF("ck", "seg")
    val events = Seq((10L, 1L, 1.0), (11L, 2L, 2.0), (12L, 9L, 3.0))
      .toDF("event_id", "user_id", "value")
    val batch = EventStream.enrichStatic(events, dim, "user_id", "ck",
        Seq("seg"))
      .collect().map(r => r.getAs[Long]("event_id") ->
        (Option(r.getAs[String]("seg")), r.getDouble(r.fieldIndex("value"))))
      .toMap
    assert(batch == Map(10L -> (Some("SEG_A"), 1.0),
      11L -> (Some("SEG_B"), 2.0), 12L -> (None, 3.0)))
    // the same operator on a streaming frame: stream-static join, append
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(Long, Long, Double)]
    val q = EventStream.enrichStatic(
        mem.toDF.toDF("event_id", "user_id", "value"), dim,
        "user_id", "ck", Seq("seg"))
      .writeStream.outputMode("append").format("memory")
      .queryName("enrich_static_spec").start()
    mem.addData((10L, 1L, 1.0), (11L, 2L, 2.0))
    q.processAllAvailable()
    mem.addData((12L, 9L, 3.0)) // second micro-batch re-joins the dim
    q.processAllAvailable()
    q.stop()
    val streamed = s.table("enrich_static_spec")
      .collect().map(r => r.getAs[Long]("event_id") ->
        (Option(r.getAs[String]("seg")), r.getDouble(r.fieldIndex("value"))))
      .toMap
    assert(streamed == batch)
  }
  test("distinctWindowed: exact per-window distinct; stream replay ≡ batch") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val hour = 3600L * 1000000L
    // hour 0: users 1,2,1 -> 2 distinct; hour 1: users 1,3,4,4 -> 3
    val data = Seq((1L, 0L), (2L, hour / 4), (1L, hour / 2),
      (1L, hour + 1L), (3L, hour + 2L), (4L, hour + 3L), (4L, hour + 4L))
    val batch = EventStream.distinctWindowed(
        data.toDF("user_id", "ts"), "user_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch == Map(0L -> 2L, hour -> 3L))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = EventStream.distinctWindowed(
        mem.toDF.toDF("user_id", "ts"), "user_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("distinct_windowed_spec").start()
    mem.addData(data.take(3): _*)
    q.processAllAvailable()
    mem.addData(data.drop(3): _*)
    q.processAllAvailable()
    mem.addData((99L, 100L * hour)) // sentinel closes the real windows
    q.processAllAvailable()
    q.stop()
    val streamed = s.table("distinct_windowed_spec")
      .filter($"wstart_us" < 50L * hour)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("growthAccounting: new/retained/resurrected partition actives; churn reads forward") {
    val s = spark
    import s.implicits._
    val wkMicros = 7L * 86400L * 1000000L
    // u1 active wk 0,1,3 ; u2 active wk 1 only ; u3 active wk 0,3
    val ev = Seq((1L, 0L), (1L, 1L), (1L, 3L), (2L, 1L), (3L, 0L), (3L, 3L))
      .map { case (u, w) => (u, w * wkMicros + 5L) }
      .toDF("user_id", "ts")
    val out = EventStream.growthAccounting(ev)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    // wk0: u1,u3 new; both skip wk1? u1 active wk1 -> churn counts u3 only
    assert(out(0L) == ((2L, 2L, 0L, 0L, 1L)))
    // wk1: u1 retained, u2 new; next week nobody active -> both churned
    assert(out(1L) == ((2L, 1L, 1L, 0L, 2L)))
    // wk3 (final): u1,u3 resurrected; churn unknowable -> 0
    assert(out(3L) == ((2L, 0L, 0L, 2L, 0L)))
    // every active user is exactly one of new/retained/resurrected
    out.values.foreach { case (a, n, r2, re, _) => assert(a == n + r2 + re) }
  }

  test("burnRate: trailing RANGE windows span silent hours; page needs both windows hot") {
    val s = spark
    import s.implicits._
    val hr = 3600L * 1000000L
    // hour 0: 10 ok; hour 1: 10 errors (fast burn); hour 7: 10 ok
    // (hour 7 is > 6h after hour 1, so its long window forgets the burn)
    val ev = ((1 to 10).map(i => (0L, "view")) ++
      (1 to 10).map(i => (1L, "error")) ++
      (1 to 10).map(i => (7L, "view")))
      .zipWithIndex.map { case ((h, t), i) => (i.toLong, h * hr + i, t) }
      .toDF("user_id", "ts", "event_type")
    val out = EventStream.burnRate(ev, budgetPpm = 50000L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(5), r.getLong(6),
          r.getLong(7))).toMap
    // hour 1: short 100% (10/10), long 50% (10/20) -> page
    assert(out(1L) == ((10L, 10L, 1000000L, 500000L, 1L)))
    // hour 0: clean
    assert(out(0L)._5 == 0L)
    // hour 7: short clean; the burn at hour 1 is outside the 6h range
    assert(out(7L) == ((0L, 0L, 0L, 0L, 0L)))
  }

  test("cuped: perfect pre-period correlation removes all variance; flat X degenerates to theta 0") {
    val s = spark
    import s.implicits._
    // user u emits (u % 7 + 1) events before the split and the SAME count
    // after: Y = X exactly -> theta = 1, var(Y - X) = 0
    val rows = (1 to 40).flatMap { u =>
      val m = u % 7 + 1
      (1 to m).map(i => (u.toLong, i.toLong * 10L)) ++
        (1 to m).map(i => (u.toLong, 1000L + i.toLong * 10L))
    }
    val ev = rows.toDF("user_id", "ts")
    val out = EventStream.cuped(ev, splitMicros = 500L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(4), r.getLong(7))).toMap
    assert(out.keySet == Set("A", "B"))
    out.values.foreach { case (n, theta, red) =>
      assert(n > 0L)
      assert(theta == 1000000L)
      assert(red == 1000000L)
    }
    // constant X across users: var(X) = 0 -> theta 0, nothing reduced
    val flat = (1 to 20).flatMap { u =>
      Seq((u.toLong, 10L)) ++ (1 to u % 5 + 1).map(i => (u.toLong, 1000L + i))
    }.toDF("user_id", "ts")
    val f = EventStream.cuped(flat, splitMicros = 500L).collect()
    f.foreach { r =>
      assert(r.getLong(4) == 0L) // theta_ppm
      assert(r.getLong(7) == 0L) // reduction_ppm
    }
  }

  test("calibration: replayed behavior is perfectly calibrated; unseen bucket falls back to the global rate") {
    val s = spark
    import s.implicits._
    // 8 users, SAME behavior in both halves: fb=1 users convert 2/4,
    // fb=2 users convert 4/4 -> the learned rate table is exact on test
    def halfRows(off: Long) = (1 to 8).flatMap { u =>
      val views = if (u <= 4) 1 else 2
      val buys = if (u <= 4) (if (u % 2 == 0) 1 else 0) else 1
      (1 to views).map(i => (u.toLong, off + i, "view")) ++
        (1 to buys).map(i => (u.toLong, off + 100L + i, "purchase"))
    }
    val ev = (halfRows(0L) ++ halfRows(1000L) ++
      // user 100: 5 views, second half ONLY -> fb=5 unseen in train
      (1 to 5).map(i => (100L, 1000L + i.toLong, "view")))
      .toDF("user_id", "ts", "event_type")
    val out = EventStream.calibration(ev, splitMicros = 500L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // fb=1 -> rate 500000 -> bin 5; fb=2 -> 1000000 -> bin 10: both exact
    assert(out("b05") == ((4L, 500000L, 500000L, 0L)))
    assert(out("b10") == ((4L, 1000000L, 1000000L, 0L)))
    // fallback: global train rate 6/8 = 750000 -> bin 7, acc 0, gap 750000
    assert(out("b07") == ((1L, 750000L, 0L, 750000L)))
    // overall ECE = (8*0 + 1*750000) div 9 = 83333
    assert(out("overall") == ((9L, 750000L, 666666L, 83333L)))
  }

  test("survivalCurve: censored users stay in the risk set without a churn event") {
    val s = spark
    import s.implicits._
    val D = 86400000000L // one day of micros
    val ev = Seq(
      (1L, 90 * D), (1L, 100 * D), // duration 10, last == edge: censored
      (2L, 0L), (2L, 2 * D), //       duration 2, churned
      (3L, 0L), (3L, 0L), //          duration 0, churned
      (4L, 95 * D), (4L, 96 * D) //   duration 1, within 7d of edge: censored
    ).toDF("user_id", "ts")
    val rows = EventStream.survivalCurve(ev, horizonDays = 7)
      .orderBy("duration_days").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(rows.keySet == Set(0L, 1L, 2L, 10L))
    assert(rows(0L) == ((1L, 1L, 4L, 250000L, 250000L)))
    assert(rows(1L) == ((1L, 0L, 3L, 0L, 250000L)))
    assert(rows(2L) == ((1L, 1L, 2L, 500000L, 750000L)))
    assert(rows(10L) == ((1L, 0L, 1L, 0L, 750000L)))
  }

  test("autocorrelation: an exactly 24-periodic series maxes lag 24, silent hours count as zeros") {
    val s = spark
    import s.implicits._
    // hours 0..199: 5 events on multiples of 24, none on h%24==7 (the
    // densifier must re-insert those as zeros), 1 event otherwise
    val rows = (0 until 200).flatMap { h =>
      val n = if (h % 24 == 0) 5 else if (h % 24 == 7) 0 else 1
      (1 to n).map(i => (h.toLong * 3600000000L, i.toLong))
    }
    val out = EventStream.autocorrelation(
        rows.toDF("ts", "event_id"), lags = Seq(1, 24))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getAs[Long]("r2_ppm"), r.getAs[Long]("sgn"))).toMap
    // hour 199 is itself silent (199 % 24 == 7), and a TRAILING silent
    // hour is invisible to the densifier (no observed upper bound), so
    // the dense span is 0..198 -> 199 hours -> 175 lag-24 pairs
    assert(out(24L)._1 == 175L)
    assert(out(24L)._2 == 1000000L && out(24L)._3 == 1L) // exact period
    assert(out(1L)._2 < 1000000L) // adjacent hours are not the period
  }

  test("ratioMetricCi: identical users collapse the interval onto the exact ratio") {
    val s = spark
    import s.implicits._
    // every user: one purchase of 2.0 + one view -> ratio = 1e6 exactly
    val rows = (1L to 100L).flatMap { u =>
      Seq((u, "purchase", 2.0), (u, "view", 0.0)) }
    val out = EventStream.ratioMetricCi(
        rows.toDF("user_id", "event_type", "value"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("k_users"), r.getAs[Long]("ratio_ppm"),
          r.getAs[Long]("se_ppm"), r.getAs[Long]("ci_lo_ppm"),
          r.getAs[Long]("ci_hi_ppm"))).toMap
    assert(out.keySet == Set("A", "B"))
    assert(out.values.map(_._1).sum == 100L)
    out.values.foreach { case (_, ratio, se, lo, hi) =>
      assert(ratio == 1000000L && se == 0L && lo == ratio && hi == ratio)
    }
  }

  test("rateLimit: bucket drains, throttles, and refills on the hand timeline; 3-batch replay equals the batch fold") {
    val s = spark
    import s.implicits._
    // capacity 3, refill 1 token/s; events at 0, .1s, .2s, .3s, 10s
    val tsUs = Seq(0L, 100000L, 200000L, 300000L, 10000000L)
    val batchDf = tsUs.zipWithIndex
      .map { case (t, i) => (1L, i.toLong + 1, t) }
      .toDF("user_id", "event_id", "ts")
    val batch = EventStream.rateLimit(batchDf, capacity = 3,
        refillPerSec = 1)
      .orderBy("tus").collect()
      .map(r => (r.getAs[Boolean]("accepted"), r.getAs[Long]("level_after")))
    assert(batch.toSeq == Seq((true, 2000000L), (true, 1100000L),
      (true, 200000L), (false, 300000L), (true, 2000000L)))
    // streaming: the same rows over 3 event-time-ordered micro-batches
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long)]
    val q = EventStream.rateLimit(
        mem.toDF.toDF("user_id", "event_id", "ts"),
        capacity = 3, refillPerSec = 1)
      .writeStream.outputMode("append").format("memory")
      .queryName("rl_sink").start()
    val rows = tsUs.zipWithIndex.map { case (t, i) => (1L, i.toLong + 1, t) }
    Seq(rows.slice(0, 2), rows.slice(2, 4), rows.slice(4, 5))
      .foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    q.stop()
    val streamed = s.table("rl_sink").orderBy("tus").collect()
      .map(r => (r.getAs[Boolean]("accepted"), r.getAs[Long]("level_after")))
    assert(streamed.toSeq == batch.toSeq)
  }

  test("powerReadout: universal reach needs no sample, and more users shrink the detectable effect") {
    val s = spark
    import s.implicits._
    def mk(n: Long) = (1L to n).flatMap { u =>
      Seq((u, "base")) ++ (if (u % 2 == 0) Seq((u, "half")) else Nil)
    }.toDF("user_id", "event_type")
    val big = EventStream.powerReadout(mk(400))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("p_ppm"), r.getAs[Long]("mde_ppm"))).toMap
    // p = 1 -> p(1-p) = 0 -> nothing to detect
    assert(big("base") == ((1000000L, 0L)))
    // a real mid-range metric has a positive detectable floor
    assert(big("half")._1 > 400000L && big("half")._1 < 600000L)
    assert(big("half")._2 > 0L)
    // quadrupling users roughly halves the MDE (1/sqrt(n) scaling)
    val small = EventStream.powerReadout(mk(100))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("mde_ppm")).toMap
    assert(small("half") > big("half")._2)
  }

  test("fdrGate: a pure arm-aligned metric is discovered, a universal metric is not, discoveries form a rank prefix") {
    val s = spark
    import s.implicits._
    // recover each user's md5 arm with the operator's own coin so the
    // planted signal is EXACTLY arm-aligned
    val armOf = spark.range(1, 401)
      .select(col("id"), (expr("conv(substring(md5(concat('ab_exp1_', " +
        "cast(id as string))), 1, 13), 16, 10)").cast("long") % 2 === 0)
        .as("a"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val rows = (1L to 400L).flatMap { u =>
      Seq((u, "base")) ++ // every user: x = n -> no-evidence guard
        (if (armOf(u)) Seq((u, "promo")) else Nil) ++ // pure arm signal
        (if (u % 3 == 0) Seq((u, "noise")) else Nil) // ~arm-independent
    }
    val out = EventStream.fdrGate(rows.toDF("user_id", "event_type"),
        alphaPpm = 50000L)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("p_ppm"), r.getAs[Long]("rnk"),
          r.getAs[Boolean]("discovery"))).toMap
    assert(out("base")._1 == 1000000L && !out("base")._3)
    assert(out("promo")._2 == 1L && out("promo")._3)
    assert(out("promo")._1 < out("noise")._1)
    // BH admits a prefix of the p-ranked list, never a gap
    val byRank = out.values.toSeq.sortBy(_._2).map(_._3)
    assert(!byRank.zip(byRank.tail).exists { case (a, b) => !a && b })
    val e = intercept[IllegalArgumentException](
      EventStream.fdrGate(rows.toDF("user_id", "event_type"),
        alphaPpm = 0L))
    assert(e.getMessage.contains("alphaPpm"))
  }

}
