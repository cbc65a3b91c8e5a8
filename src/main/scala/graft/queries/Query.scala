package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the DuckDB SQL that checks it (None for
  * a rows-only query) and the Spark build, run as `build(spark, sfDir)`. */
final case class Query(name: String, oracle: Option[String])(
    val build: (SparkSession, String) => DataFrame)

object Query {
  /** `queries` as one registry; throws, naming them, if any name repeats. */
  def registry(queries: Seq[Query]): Seq[Query] = {
    val repeated = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(repeated.isEmpty,
      s"query names registered more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    queries
  }
}
