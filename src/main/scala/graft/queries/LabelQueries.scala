package graft.queries

import graft.model.ClassSpec
import graft.operators.Labels
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The label aggregations (SURVEY §2.3) driven over the driver's parquet
  * tables so the DuckDB oracle can verify them end-to-end: events become
  * "features" (props from JSON), user_id buckets become "tiles". */
object LabelQueries {
  import Relational.t

  val queries: Seq[Query] = Seq(
    // A1 classification over event-features grouped into user "tiles",
    // including the background fallback on empty tiles (A4).
    Query("ql01_classification", Some(
      """WITH users AS (
        |  SELECT DISTINCT CAST(user_id AS INT) AS x FROM events
        |  UNION ALL SELECT -1 UNION ALL SELECT -2),
        |agg AS (SELECT CAST(user_id AS INT) AS x,
        |  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c1,
        |  MAX(CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) > 80 THEN 1 ELSE 0 END) AS c2
        | FROM events GROUP BY 1)
        |SELECT 0 AS z, u.x AS x, 0 AS y,
        | CASE WHEN COALESCE(c1, 0) + COALESCE(c2, 0) = 0 THEN 1 ELSE 0 END AS l_bg,
        | COALESCE(c1, 0) AS l_purchases, COALESCE(c2, 0) AS l_bigk
        |FROM users u LEFT JOIN agg a ON u.x = a.x ORDER BY x""".stripMargin)) { (s, d) =>
      val classes = ClassSpec.parseJson(
        """[
          |  {"name": "Purchases", "filter": ["==", "event_type", "purchase"]},
          |  {"name": "BigK",      "filter": [">", "k", 80]}
          |]""".stripMargin)
      val feats = t(s, d, "events").select(
        lit(0).as("z"), col("user_id").cast("int").as("x"), lit(0).as("y"),
        map(lit("event_type"), col("event_type"),
          lit("k"), get_json_object(col("props"), "$.k")).as("props"),
        lit("Point").as("geomType"), col("event_id").as("id"))
      val tiles = t(s, d, "events").select(col("user_id").cast("int").as("x")).distinct()
        .unionAll(s.range(2).select((col("id") * -1 - 1).cast("int").as("x")))
        .select(lit(0).as("z"), col("x"), lit(0).as("y"))
      // label slots projected to scalar int columns (the gate's checker
      // hashes pandas frames, which can't sort/hash an array column)
      Labels.classification(tiles, feats, classes)
        .select(col("z"), col("x"), col("y"),
          col("label").getItem(0).as("l_bg"),
          col("label").getItem(1).as("l_purchases"),
          col("label").getItem(2).as("l_bigk"))
        .orderBy("x")
    },
    // A2 object-detection bbox math (scale / banker's-round / y-flip /
    // +/-4 pad / clamp) over synthetic geometries from lineitem values.
    Query("ql02_objdet_bbox", Some(
      """WITH f AS (SELECT
        |  CAST(l_orderkey % 100 AS INT) AS x,
        |  CAST(l_orderkey * 8 + l_linenumber AS INT) AS fidx,
        |  CAST(l_partkey % 3000 AS DOUBLE) AS x0,
        |  CAST(l_suppkey % 3000 AS DOUBLE) AS y0,
        |  CAST(l_partkey % 3000 AS DOUBLE) + l_quantity * 40 AS x1,
        |  CAST(l_suppkey % 3000 AS DOUBLE) + (l_extendedprice % 2000) AS y1,
        |  l_quantity AS qty
        | FROM lineitem WHERE l_orderkey < 2000),
        |perclass AS (
        |  SELECT x, fidx, 0 AS cidx, 0.0 AS buf, x0, y0, x1, y1 FROM f
        |  UNION ALL
        |  SELECT x, fidx, 1 AS cidx, 50.0 AS buf, x0, y0, x1, y1 FROM f WHERE qty > 30),
        |px AS (SELECT x, fidx, cidx, cidx + 1 AS cls,
        |  CAST(ROUND_EVEN((LEAST(x0, x1) - buf) * 255.0 / 4096.0, 0) AS INT) AS pxmin,
        |  CAST(ROUND_EVEN((GREATEST(x0, x1) + buf) * 255.0 / 4096.0, 0) AS INT) AS pxmax,
        |  CAST(ROUND_EVEN((LEAST(y0, y1) - buf) * 255.0 / 4096.0, 0) AS INT) AS pymin,
        |  CAST(ROUND_EVEN((GREATEST(y0, y1) + buf) * 255.0 / 4096.0, 0) AS INT) AS pymax
        | FROM perclass),
        |bb AS (SELECT x, fidx, cidx, cls,
        |  GREATEST(0, LEAST(255, pxmin - 4)) AS xmin,
        |  GREATEST(0, LEAST(255, 255 - pymax - 4)) AS ymin,
        |  GREATEST(0, LEAST(255, pxmax + 4)) AS xmax,
        |  GREATEST(0, LEAST(255, 255 - pymin + 4)) AS ymax
        | FROM px)
        |SELECT x, CAST(ROW_NUMBER() OVER (PARTITION BY x
        |   ORDER BY fidx, cidx, xmin, ymin, xmax, ymax, cls) - 1 AS INT) AS pos,
        | xmin, ymin, xmax, ymax, cls
        |FROM bb ORDER BY x, pos""".stripMargin)) { (s, d) =>
      val classes = ClassSpec.parseJson(
        """[
          |  {"name": "All", "filter": []},
          |  {"name": "Big", "filter": [">", "qty", 30], "buffer": 50.0}
          |]""".stripMargin)
      val li = t(s, d, "lineitem").filter(col("l_orderkey") < 2000)
      val x0 = (col("l_partkey") % 3000).cast("double")
      val y0 = (col("l_suppkey") % 3000).cast("double")
      val x1 = x0 + (col("l_quantity") * 40)
      val y1 = y0 + (col("l_extendedprice") % 2000)
      val feats = li.select(
        lit(0).as("z"), (col("l_orderkey") % 100).cast("int").as("x"), lit(0).as("y"),
        (col("l_orderkey") * 8 + col("l_linenumber")).cast("int").as("fidx"),
        lit("Polygon").as("geomType"), lit(false).as("multi"),
        array(array(
          struct(x0.as("x"), y0.as("y")),
          struct(x1.as("x"), y1.as("y")))).as("parts"),
        map(lit("qty"), col("l_quantity").cast("string")).as("props"),
        col("l_orderkey").as("id"))
      val tiles = s.range(100).select(lit(0).as("z"), col("id").cast("int").as("x"), lit(0).as("y"))
      Labels.objectDetection(tiles, feats, classes)
        .select(col("x"), posexplode(col("label")).as(Seq("pos", "bb")))
        .select(col("x"), col("pos"),
          col("bb.xmin").as("xmin"), col("bb.ymin").as("ymin"),
          col("bb.xmax").as("xmax"), col("bb.ymax").as("ymax"),
          col("bb.cls").as("cls"))
        .orderBy("x", "pos")
    },
    // A3 — the segmentation rasterizer under the oracle gate: one axis-
    // aligned rectangle per "tile" (from orders values), whose center-rule
    // fill count has a closed form the oracle can compute:
    // pixels = max(0, min(px1,256)-max(px0,0)) * max(0, min(py1,256)-max(py0,0))
    // with the same 0-4096 -> 0-255 banker's-round + y-flip conversion.
    Query("qseg01_raster_counts", Some(
      """WITH f AS (SELECT CAST(o_orderkey AS INT) AS x,
        |  CAST(o_custkey % 3000 AS DOUBLE) AS x0,
        |  CAST(CAST(FLOOR(o_totalprice) AS BIGINT) % 3000 AS DOUBLE) AS y0
        | FROM orders WHERE o_orderkey < 100),
        |px AS (SELECT x,
        |  CAST(ROUND_EVEN(x0 * 255.0 / 4096.0, 0) AS INT) AS px0,
        |  CAST(ROUND_EVEN((x0 + 700.0) * 255.0 / 4096.0, 0) AS INT) AS px1,
        |  255 - CAST(ROUND_EVEN((y0 + 1100.0) * 255.0 / 4096.0, 0) AS INT) AS pyt,
        |  255 - CAST(ROUND_EVEN(y0 * 255.0 / 4096.0, 0) AS INT) AS pyb
        | FROM f)
        |SELECT x, CAST(
        |  GREATEST(0, LEAST(px1, 255) - GREATEST(px0, 0)) *
        |  GREATEST(0, LEAST(pyb, 255) - GREATEST(pyt, 0)) AS BIGINT) AS n_pixels
        |FROM px ORDER BY x""".stripMargin)) { (s, d) =>
      import s.implicits._
      val classes = ClassSpec.parseJson("""[{"name": "R", "filter": []}]""")
      val o = t(s, d, "orders").filter(col("o_orderkey") < 100)
      val x0 = (col("o_custkey") % 3000).cast("double")
      val y0 = ((col("o_totalprice").cast("long")) % 3000).cast("double")
      val x1 = x0 + 700.0
      val y1 = y0 + 1100.0
      val feats = o.select(
        lit(0).as("z"), col("o_orderkey").cast("int").as("x"), lit(0).as("y"),
        lit(0).as("fidx"), lit("Polygon").as("geomType"), lit(false).as("multi"),
        array(array(
          struct(x0.as("x"), y0.as("y")), struct(x0.as("x"), y1.as("y")),
          struct(x1.as("x"), y1.as("y")), struct(x1.as("x"), y0.as("y")),
          struct(x0.as("x"), y0.as("y")))).as("parts"),
        typedLit(Map.empty[String, String]).as("props"), col("o_orderkey").as("id"))
        .as[graft.model.FeatureRow]
      val tiles = o.select(lit(0).as("z"), col("o_orderkey").cast("int").as("x"), lit(0).as("y"))
      graft.operators.Segmentation.segmentation(tiles, feats, classes)
        .as[(Int, Int, Int, Array[Byte])]
        .map { case (z, x, y, label) => (x, label.count(_ == 1.toByte).toLong) }
        .toDF("x", "n_pixels")
        .orderBy("x")
    }
  )
}
