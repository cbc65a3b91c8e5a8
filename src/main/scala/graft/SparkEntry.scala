package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.BBox
import graft.plans.LabelMakerJob
import graft.queries.{FilterQueries, LabelQueries, MediaQueries, MiscQueries, Query, Relational, TextOps, VectorOps}
import graft.sources.Mvt

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query: the reference's README job (README.md:22-31 — zoom 13
    * Rio bbox, 312 tiles) end-to-end — enumerate tiles, fetch + decode MVT
    * labels from an (in-process stub) tile server, compile the class
    * filters to Catalyst predicates, aggregate classification labels, and
    * answer "which tiles contain a building". */
  def entry(spark: SparkSession): DataFrame = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    val tile = Mvt.encode(Seq(
      Mvt.EncFeature("Polygon",
        Seq(Seq((0L, 0L), (0L, 4096L), (4096L, 4096L), (4096L, 0L))),
        Map("building" -> "yes"), id = Some(1L)),
      Mvt.EncFeature("LineString", Seq(Seq((0L, 2048L), (4096L, 2048L))),
        Map("highway" -> "primary"), id = Some(2L))))
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(200, tile.length.toLong)
      ex.getResponseBody.write(tile)
      ex.close()
    })
    server.start()
    try {
      val job = LabelMakerJob(
        zoom = 13, bounds = BBox(-44.4836, -23.0266, -43.4127, -22.5856),
        classes = graft.model.ClassSpec.parseJson(
          """[{"name": "Buildings", "filter": ["has", "building"]},
            |  {"name": "Roads", "filter": ["has", "highway"]}]""".stripMargin),
        imagery = None,
        labelSource = s"http://localhost:${server.getAddress.getPort}/{z}/{x}/{y}.pbf",
        mlType = "classification")
      val out = job.build(spark)
        .filter(col("label").getItem(1) === 1) // tiles containing a building
        .cache()
      out.count() // materialize while the stub is still up
      out
    } finally server.stop(0)
  }

  /** Every registered query, each name once (construction fails naming
    * any name registered twice). */
  val registry: Seq[Query] = Query.registry(
    Relational.queries ++ FilterQueries.queries ++ TextOps.queries ++
      VectorOps.queries ++ LabelQueries.queries ++ MediaQueries.queries ++
      MiscQueries.queries)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. qv15's
    * entry appears once its query has run in this JVM. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap ++ VectorOps.generatedOracleSql
}
