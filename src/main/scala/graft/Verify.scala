package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Registered queries checked by their rows alone, with no oracle. */
  private val RowsOnly = Set("qx01_sketches")

  /** Every registered query that is neither rows-only nor in `oracles`. */
  def missingOracles(oracles: Map[String, String]): Seq[String] =
    SparkEntry.queries.keys.filterNot(n => oracles.contains(n) || RowsOnly(n))
      .toSeq.sorted

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [querySubstr...]")
    val (sfDir, outDir) = (args(0), args(1))
    // optional substring filters (local iteration; the driver passes none)
    val filters = args.drop(2)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failures are recorded explicitly (errors.json) rather than only as
    // absent result dirs: an artifact consumer diffing rounds must not have
    // to notice MISSING keys to detect a regression (advisor, r7).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => filters.isEmpty || filters.exists(name.contains) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles = SparkEntry.oracleSql
    // a query the compare cannot check is a failure too (qv15's oracle is
    // generated only by running qv15 in this JVM)
    missingOracles(oracles).foreach { name =>
      errors.getOrElseUpdate(name, "no oracle SQL in oracle_sql.json")
    }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Self-describing failure record — {} when everything ran, so its
    // presence (not its absence) is the signal the dump completed.
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries failed: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
