package perfbench

import graft.SparkEntry

import java.nio.file.{Files, Paths}

/** The `sql-suite` workload: a fixed list of `SparkEntry.queries`, each
  * run once per pass, one at a time. Every result is written as parquet
  * for `run.py` to compare against the query's DuckDB oracle. */
object SqlSuite {
  def run(ctx: Ctx, data: String, listFile: String): Unit = {
    val names = scala.io.Source.fromFile(listFile).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    val registry = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.writeString(Paths.get(ctx.work.getPath, "oracle.json"),
      names.flatMap(n => oracles.get(n).map(s => s"${q(n)}: ${q(s)}")).mkString("{", ",\n", "}"))
    ctx.report.firstOp = ctx.now

    def once(name: String, pass: Int, traced: Boolean): Unit = {
      val out = new java.io.File(ctx.work, s"sql/p$pass${if (traced) "t" else ""}/$name").getPath
      ctx.op(name, pass, traced, "queries.op") {
        val fn = registry.getOrElse(name, throw new NoSuchElementException(s"no query $name"))
        val df = ctx.trace.span("queries.build")(fn(ctx.spark, data))
        ctx.trace.span("spark.action")(df.write.mode("overwrite").parquet(out))
      }
      val i = ctx.report.ops.size - 1
      ctx.report.ops(i) = ctx.report.ops(i).copy(out = out)
    }

    if (ctx.traced) {
      // one pass, each query twice in a row: untraced and traced, in
      // alternating order so neither side always runs warmer
      names.zipWithIndex.foreach { case (n, i) =>
        val order = if (i % 2 == 0) Seq(false, true) else Seq(true, false)
        order.foreach { traced =>
          if (traced) ctx.trace.start()
          once(n, 0, traced)
          if (traced) ctx.trace.stop()
        }
      }
      ctx.reportSparkLayers(passes = 1)
    } else {
      val deadline = ctx.now + ctx.seconds
      var pass = 0
      while (pass == 0 || ctx.now < deadline) {
        names.foreach(once(_, pass, traced = false))
        pass += 1
      }
    }
  }
}
