package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** In-memory tracing for the traced run.
  *
  * Spans come from the benchmark's own code around calls into each layer
  * (`span`), plus one `spark.job` span per Spark job and one
  * `streaming.batch` span per micro-batch, both from Spark's public
  * listener APIs. Layer counters (tasks, CPU, shuffle, spill, GC,
  * planning phases, state store) are summed while `on` is true. Nothing
  * is registered with Spark until `start()`, so untraced runs pay
  * nothing.
  */
final class Trace(spark: SparkSession) {
  final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)

  private val epochAnchor = System.currentTimeMillis() / 1e3
  private val nanoAnchor = System.nanoTime()
  /** Wall-clock seconds (epoch-based, monotonic within the run). */
  def now: Double = epochAnchor + (System.nanoTime() - nanoAnchor) / 1e9

  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  @volatile private var current = -1
  @volatile var on = false

  private def add(parent: Int, name: String, start: Double, end: Double): Unit = synchronized {
    spans += Span(nextId, parent, name, start, end)
    nextId += 1
  }

  /** Time `body` as a span named `layer.entry`; a no-op when tracing is off. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId - 1 }
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      current = id
      val s = now
      try body
      finally {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        stack = stack.tail
        current = stack.headOption.getOrElse(-1)
        synchronized { spans += Span(id, parent, name, s, now) }
      }
    }

  // ---- layer counters (sums while on) ----
  val counts = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private def bump(k: String, v: Double): Unit = synchronized { counts(k) += v }
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val jobStart = mutable.Map[Int, Double]()
  /** Job intervals of the current traced operation, for `spark.driver_s`. */
  val jobIntervals = mutable.ArrayBuffer[(Double, Double)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = e.time / 1e3
      bump("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { s =>
        add(current, "spark.job", s, e.time / 1e3)
        jobIntervals += ((s, e.time / 1e3))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      bump("spark.stages", 1)
      stageTasks.remove(e.stageInfo.stageId).filter(_.size >= 2).foreach { ts =>
        val sorted = ts.sorted
        val median = sorted(sorted.size / 2).toDouble
        if (median > 0) counts("spark.task_skew") = math.max(counts("spark.task_skew"), sorted.last / median)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      bump("spark.tasks", 1)
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        bump("spark.executor_run_s", m.executorRunTime / 1e3)
        bump("spark.executor_cpu_s", m.executorCpuTime / 1e9)
        bump("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        bump("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        bump("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        bump("spark.gc_s", m.jvmGCTime / 1e3)
        val overhead = m.executorDeserializeTime + m.executorRunTime + m.resultSerializationTime
        val gettingResult = if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
        bump("spark.scheduler_delay_s", math.max(0L, info.duration - overhead - gettingResult) / 1e3)
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => bump(s"spark.${p}_s", s.durationMs / 1e3))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      bump("streaming.batches", 1)
      p.stateOperators.foreach { s =>
        bump("streaming.state_rows", s.numRowsTotal.toDouble)
        bump("streaming.state_bytes", s.memoryUsedBytes.toDouble)
        bump("streaming.commit_s", s.commitTimeMs / 1e3)
      }
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli / 1e3
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.toDouble / 1e3).getOrElse(0.0)
      add(current, "streaming.batch", end, end + dur)
    }
  }

  /** Attach the listeners; everything after this is traced. */
  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Wait until Spark has delivered every pending listener event, then
    * detach the listeners. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    on = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Seconds of `[s, e]` not covered by any of `ivs`. */
  def uncovered(s: Double, e: Double, ivs: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var at = s
    ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }.filter(iv => iv._2 > iv._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > at) { covered += b - math.max(a, at); at = b }
      }
    (e - s) - covered
  }

  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover, summed by the layer prefix of its name. */
  def selfTimes: Map[String, Double] = synchronized {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map { s =>
        uncovered(s.start, s.end, children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
      }.sum
    }
  }

  def spansJson: String = synchronized {
    spans.sortBy(_.start).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start":${s.start}%.6f,"end":${s.end}%.6f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Trace {
  /** Peak heap (sum of heap pools' peaks) and peak resident set, in MB. */
  def memoryPeaks(): (Double, Double) = {
    import scala.jdk.CollectionConverters._
    val heap = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val rss = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    }.getOrElse(0.0)
    (heap, rss)
  }
}
