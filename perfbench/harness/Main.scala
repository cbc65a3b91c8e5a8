package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One timed operation (a pipeline job or a query). */
final case class Op(name: String, pass: Int, traced: Boolean, start: Double, wall: Double,
    error: Option[String], out: String = "", overhead: Double = 0.0)

/** What the harness hands back to `run.py`, written as `result.json`. */
final class Report {
  var firstOp = 0.0
  val ops = mutable.ArrayBuffer[Op]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, String]()

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""

  def json: String = {
    val opsJson = ops.map { o =>
      s"""{"name":${q(o.name)},"pass":${o.pass},"traced":${o.traced},"start":${o.start},"wall":${o.wall},""" +
        s""""error":${o.error.map(q).getOrElse("null")},"out":${q(o.out)},"overhead":${o.overhead}}"""
    }.mkString("[", ",\n", "]")
    val layersJson = layers.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val infoJson = info.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    s"""{"first_op":$firstOp,"ops":$opsJson,"layers":$layersJson,"info":$infoJson}"""
  }
}

/** Benchmark harness entry point; `run.py` launches it once per run.
  *
  * Args: `--workload W --seed N --seconds S --trace 0|1 --work DIR
  * --cpus N [--data DIR --queries FILE]`. Writes `DIR/result.json`.
  */
object Main {
  /** The session settings `graft.Bench` uses. */
  val SessionConf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
    "spark.ui.enabled" -> "false")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = opt("cpus").toInt
    val work = new File(opt("work"))
    val builder = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
    SessionConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(100).selectExpr("sum(id)").collect()

    val report = new Report
    report.info("t_spark") = (System.currentTimeMillis() / 1e3).toString
    report.info("spark_version") = spark.version
    report.info("cpus") = cpus.toString
    report.info("heap_max_mb") = (Runtime.getRuntime.maxMemory / 1048576).toString
    report.info("spark_conf") = (("spark.master" -> s"local[$cpus]") +:
      ("spark.sql.shuffle.partitions" -> cpus.toString) +: SessionConf)
      .map { case (k, v) => s"$k=$v" }.mkString(" ")
    val trace = new Trace(spark)
    val ctx = Ctx(spark, trace, report, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", work, cpus)
    try opt("workload") match {
      case "sql-suite" => SqlSuite.run(ctx, opt("data"), opt("queries"))
      case w => Pipeline.run(ctx, w)
    } finally {
      if (ctx.traced) {
        val (heap, rss) = Trace.memoryPeaks()
        report.layers("jvm.heap_peak_mb") = heap
        report.layers("jvm.rss_peak_mb") = rss
        Files.writeString(Paths.get(work.getPath, "trace.json"), trace.spansJson)
      }
      if (ctx.traced) trace.selfTimes.foreach { case (l, v) => report.layers(s"self.${l}_s") = v }
      Files.writeString(Paths.get(work.getPath, "result.json"), report.json)
      spark.stop()
    }
  }
}

final case class Ctx(spark: SparkSession, trace: Trace, report: Report, seed: Long,
    seconds: Double, traced: Boolean, work: File, cpus: Int) {
  def now: Double = trace.now

  private def planning: Double =
    Seq("analysis", "optimization", "planning").map(p => trace.counts(s"spark.${p}_s")).sum

  /** Run `body` as operation `name`, recording its wall time and any
    * throw. In traced passes the op is a span; its `overhead` is its
    * analysis, optimization and planning time plus the part of it no
    * Spark job covers (which also adds to `spark.driver_s`). */
  def op[T](name: String, pass: Int, tracedPass: Boolean, layer: String)(body: => T): Option[T] = {
    trace.jobIntervals.clear()
    val p0 = planning
    val t0 = now
    val result =
      try Right(trace.span(layer)(body))
      catch { case e: Throwable => Left(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(300)) }
    val wall = now - t0
    val driver = if (tracedPass) trace.uncovered(t0, t0 + wall, trace.jobIntervals.toSeq) else 0.0
    driverSum += driver
    report.ops += Op(name, pass, tracedPass, t0, wall, result.left.toOption,
      overhead = if (tracedPass) planning - p0 + driver else 0.0)
    result.toOption
  }
  private var driverSum = 0.0

  /** The `spark.*`, `streaming.*` and `queries.build_s` layer metrics of
    * the traced passes so far, per pass. */
  def reportSparkLayers(passes: Int): Unit = {
    val c = trace.counts
    Seq("spark.analysis_s", "spark.optimization_s", "spark.planning_s", "spark.jobs", "spark.stages",
      "spark.tasks", "spark.scheduler_delay_s", "spark.executor_run_s", "spark.executor_cpu_s",
      "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.gc_s",
      "streaming.batches", "streaming.state_rows", "streaming.state_bytes", "streaming.commit_s")
      .foreach(k => report.layers(k) = c(k) / passes)
    report.layers("spark.task_skew") = c("spark.task_skew")
    report.layers("spark.driver_s") = driverSum / passes
    val tracedWall = report.ops.filter(_.traced).map(_.wall).sum
    report.layers("spark.cpu_util") = c("spark.executor_cpu_s") / (tracedWall * cpus)
    report.layers("queries.build_s") =
      trace.spans.filter(_.name == "queries.build").map(s => s.end - s.start).sum / passes
  }
}
