package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The MemoryStream replay harness of the streaming queries: a bounded
  * driver gather ([[bounded]]) and one replay of it through a stream
  * ([[run]]).
  *
  * Every registered query that replays a relation through a MemoryStream
  * must route its driver gather through [[bounded]] instead of calling
  * `.collect()` directly. The helper bounds driver memory *by construction*:
  * it fetches at most `max + 1` rows (a `limit` pushed into the scan, so the
  * executors never ship more than that) and fails loudly if the input held
  * more — which means an unbounded or linear-in-SF replay set can never OOM
  * the driver silently; it trips the `require` at the smallest SF that
  * exceeds the cap.
  *
  * `ReplayHygieneSpec` machine-enforces the other half of the invariant: no
  * file under `graft/queries` may contain a raw `.collect()` call, a
  * `MemoryStream` or a `writeStream`, so these two helpers are the only
  * driver-gather and replay path a registered query can take.
  *
  * SCALE CONTRACT: driver memory is O(max) at every SF. Callers must still
  * pre-filter with a deterministic, SF-independent predicate (e.g.
  * `user_id < 300`, `doc_id < 2000`) so the *content* of the replay set is
  * stable across scale factors — the cap converts a forgotten filter from a
  * silent driver OOM into a named, immediate test failure.
  */
object Replay {
  def bounded[T](ds: Dataset[T], max: Int): Array[T] = {
    require(max > 0, s"replay cap must be positive, got $max")
    val rows = ds.limit(max + 1).collect()
    require(rows.length <= max,
      s"replay set exceeds its $max-row bound (>= ${rows.length} rows): " +
        "filter the replay input with a deterministic constant-size " +
        "predicate (qs08's user_id < 300 discipline) before collecting")
    rows
  }

  /** Unique memory-sink names across runs (Bench runs each query twice). */
  private val sinkSeq = new java.util.concurrent.atomic.AtomicInteger

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** The micro-batches [[run]] feeds: `rows` cut at n/3 and 2n/3, then
    * `last` as a batch of its own when it is non-empty. */
  private[streaming] def batches[T](rows: collection.Seq[T],
      last: collection.Seq[T]): Seq[collection.Seq[T]] = {
    val n = rows.length
    Seq(rows.slice(0, n / 3), rows.slice(n / 3, 2 * n / 3),
      rows.slice(2 * n / 3, n)) ++ Some(last).filter(_.nonEmpty)
  }

  /** Replays `rows` (already bounded and in arrival order) through a
    * MemoryStream named `columns`, runs `plan` over it into a memory sink
    * in `outputMode`, feeds the [[batches]] one micro-batch each, and
    * returns the sink's rows. The sink's temp view is dropped when the
    * query stops, so the rows live only as long as the returned frame.
    *
    * `partitions` sets `spark.sql.shuffle.partitions` while the query
    * runs (`None` keeps the session's). A stateful operator opens its
    * state stores per shuffle partition per micro-batch, so at the
    * session's 32 partitions the store lifecycle, not the data, sets the
    * time of these small replays (qs08: 14.6 s at 32, 2.6 s at 4). The
    * query is stopped and the setting restored even when a batch throws. */
  def run[T: Encoder](s: SparkSession, rows: collection.Seq[T],
      columns: Seq[String], partitions: Option[Int], outputMode: String,
      last: collection.Seq[T] = Nil)(plan: DataFrame => Dataset[_]): DataFrame = {
    implicit val sqlCtx: SQLContext = s.sqlContext
    val mem = MemoryStream[T]
    val name = s"replay_sink_${sinkSeq.incrementAndGet()}"
    val prevParts = s.conf.get(ShufflePartitions)
    partitions.foreach(p => s.conf.set(ShufflePartitions, p.toLong))
    try {
      val q = plan(mem.toDF().toDF(columns: _*))
        .writeStream.outputMode(outputMode).format("memory")
        .queryName(name).start()
      try {
        batches(rows, last).foreach { b => mem.addData(b); q.processAllAvailable() }
        s.table(name)
      } finally {
        q.stop()
        // the returned frame holds the sink in its own plan, so without the
        // view the rows go with the frame instead of staying in the catalog
        s.catalog.dropTempView(name)
      }
    } finally s.conf.set(ShufflePartitions, prevParts)
  }
}
