package graft.queries

import graft.core.BBox
import graft.filters.{FilterCompiler, GLFilter}
import graft.operators.TileEnumeration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** The reference's query language — Mapbox GL filters (SURVEY §2.2, F0–F6) —
  * exercised over the driver's parquet tables so the DuckDB oracle can check
  * the compiled Catalyst predicates end-to-end.
  */
object FilterQueries {
  import Relational.t

  /** The README's Rio job bbox (README.md:22-31). */
  private val rio = BBox(-44.4836, -23.0266, -43.4127, -22.5856)

  /** p → r → xs → ys: the z13 tile columns `x` and rows `y` covering
    * [[rio]], by the Web-Mercator formula of `TileEnumeration.tiles`.
    * No trailing comma. */
  private def rioTileCtes: String =
    """p AS (
      |  SELECT -44.4836 AS w, -23.0266 AS s, -43.4127 AS e, -22.5856 AS n,
      |         CAST(POW(2, 13) AS DOUBLE) AS z2),
      |r AS (SELECT
      |  CAST(FLOOR((w/360.0 + 0.5 + 1e-14) * z2) AS INT) AS x0,
      |  CAST(FLOOR(((e - 1e-11)/360.0 + 0.5 + 1e-14) * z2) AS INT) AS x1,
      |  CAST(FLOOR((0.5 - 0.25*LN((1+SIN(RADIANS(n)))/(1-SIN(RADIANS(n))))/PI() + 1e-14) * z2) AS INT) AS y0,
      |  CAST(FLOOR((0.5 - 0.25*LN((1+SIN(RADIANS(s + 1e-11)))/(1-SIN(RADIANS(s + 1e-11))))/PI() + 1e-14) * z2) AS INT) AS y1
      |  FROM p),
      |xs AS (SELECT CAST(unnest(generate_series(x0, x1)) AS INT) AS x FROM r),
      |ys AS (SELECT CAST(unnest(generate_series(y0, y1)) AS INT) AS y FROM r)""".stripMargin

  /** events.props JSON + event_type/value lifted into the engine's
    * map<string,string> feature-property form. */
  private def eventFeatures(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").select(
      col("event_id"),
      col("user_id"),
      map_concat(
        from_json(col("props"), MapType(StringType, StringType)),
        map(lit("event_type"), col("event_type"),
          lit("value"), col("value").cast("string"))).as("props"),
      lit("Point").as("geomType"),
      col("event_id").as("id"))

  val queries: Seq[Query] = Seq(
    // F1/F2 compiled to Catalyst: all(==, >) over JSON-derived props.
    Query("qf01_gl_all_cmp", Some(
      """SELECT event_id, user_id FROM events
        |WHERE event_type = 'purchase'
        |  AND TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50
        |ORDER BY event_id""".stripMargin)) { (s, d) =>
      val f = GLFilter.parseJson(
        """["all", ["==", "event_type", "purchase"], [">", "k", 50]]""")
      eventFeatures(s, d).filter(FilterCompiler.compile(f))
        .select("event_id", "user_id").orderBy("event_id")
    },
    // F2 any / F4 in / F5 has over part attributes as properties.
    Query("qf02_gl_any_in_has", Some(
      """SELECT p_partkey FROM part
        |WHERE p_brand IN ('Brand#13', 'Brand#5', 'Brand#19')
        |  AND p_size >= 10 AND p_type <> 'PROMO'
        |ORDER BY p_partkey""".stripMargin)) { (s, d) =>
      val feats = t(s, d, "part").select(
        col("p_partkey"),
        map(lit("brand"), col("p_brand"), lit("type"), col("p_type"),
          lit("size"), col("p_size").cast("string")).as("props"),
        lit("Polygon").as("geomType"), col("p_partkey").as("id"))
      val f = GLFilter.parseJson(
        """["all",
          |  ["in", "brand", "Brand#13", "Brand#5", "Brand#19"],
          |  [">=", "size", 10],
          |  ["!in", "type", "PROMO"],
          |  ["has", "brand"]]""".stripMargin)
      feats.filter(FilterCompiler.compile(f))
        .select("p_partkey").orderBy("p_partkey")
    },
    // F3 none / F1 != / missing-key semantics (!= on absent key -> true).
    Query("qf03_gl_none_neq", Some(
      """SELECT event_type, COUNT(*) AS n FROM events
        |WHERE NOT (event_type = 'error' OR event_type = 'signup')
        |  AND TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) <= 80
        |GROUP BY event_type ORDER BY event_type""".stripMargin)) { (s, d) =>
      val f = GLFilter.parseJson(
        """["all",
          |  ["none", ["==", "event_type", "error"], ["==", "event_type", "signup"]],
          |  ["!=", "missing_key", "x"],
          |  ["<=", "k", 80]]""".stripMargin)
      eventFeatures(s, d).filter(FilterCompiler.compile(f))
        .groupBy(element_at(col("props"), "event_type").as("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },
    // $type / $id pseudo-properties (F6).
    Query("qf04_gl_pseudo_props", Some(
      """SELECT event_id FROM events WHERE event_id < 100 ORDER BY event_id""".stripMargin)) { (s, d) =>
      val f = GLFilter.parseJson(
        """["all", ["==", "$type", "Point"], ["<", "$id", 100], ["has", "$id"]]""")
      eventFeatures(s, d).filter(FilterCompiler.compile(f))
        .select("event_id").orderBy("event_id")
    },
    // S1 tile enumeration checked against the same Web-Mercator formula
    // expressed in SQL (generate_series) — verifies the distributed generator
    // and the mercantile-parity math without any HTTP dependency.
    Query("qt01_tile_enum", Some(
      s"""WITH $rioTileCtes
        |SELECT 13 AS z, x, y FROM xs, ys ORDER BY x, y""".stripMargin)) { (s, _) =>
      // README.md:22-31 Rio job: zoom 13 -> 312 tiles.
      TileEnumeration.tiles(s, rio, 13)
        .orderBy("x", "y")
    },
    // Pyramid rollup: the z13 Rio tile set aggregated two zoom levels up
    // (overview generation); each z11 parent counts its covered children.
    Query("qt02_tile_pyramid", Some(
      s"""WITH $rioTileCtes,
        |tiles AS (SELECT 13 AS z, x, y FROM xs, ys)
        |SELECT CAST(11 AS INT) AS z, CAST(x // 4 AS INT) AS x, CAST(y // 4 AS INT) AS y,
        |  COUNT(*) AS n_children
        |FROM tiles GROUP BY 2, 3 ORDER BY x, y""".stripMargin)) { (s, _) =>
      TileEnumeration.parentRollup(TileEnumeration.tiles(s, rio, 13), levels = 2)
        .orderBy("x", "y")
    },
    // Bing quadkeys: the string form of the Morton interleave — a
    // parent's key is every descendant's prefix (subtree = prefix scan).
    Query("qt03_quadkeys", Some(
      s"""WITH $rioTileCtes,
        |tiles AS (SELECT 13 AS z, x, y FROM xs, ys)
        |SELECT z, x, y,
        |  array_to_string(list_transform(range(13, 0, -1), i ->
        |    CAST(((x >> (i-1)) & 1) + 2*((y >> (i-1)) & 1) AS VARCHAR)), '') AS quadkey
        |FROM tiles ORDER BY x, y""".stripMargin)) { (s, _) =>
      TileEnumeration.tiles(s, rio, 13)
        .select(col("z"), col("x"), col("y"),
          TileEnumeration.quadkey(13, col("x"), col("y")).as("quadkey"))
        .orderBy("x", "y")
    }
  )
}
