package graft.functions

import graft.SparkSpec
import graft.model.{ClassSpec, Coord, MlType, TileFeature}
import graft.operators.{Box, Labels, Segmentation}
import org.apache.spark.sql.{DataFrame, Row}

import scala.util.Random

/** The job's per-tile label functions against the feature-table operators:
  * for each ml_type, `Labels.classificationForTile`,
  * `Labels.objectDetectionForTile` or `Segmentation.labelForTile` over a
  * tile's features must give the label `Labels.classification`,
  * `Labels.objectDetection` or `Segmentation.segmentation` gives over the
  * same features as rows. */
class TileLabelsSpec extends SparkSpec {
  import spark.implicits._

  /** Five classes, one per buffer the reference meets: a negative buffer
    * that shrinks most shapes away, a small negative one, none, and two
    * growing ones. Their filters overlap, so one feature can match several. */
  private val classes = ClassSpec.parseJson(
    """[
      |  {"name": "Buildings", "filter": ["==", "building", "yes"], "buffer": -500},
      |  {"name": "Roads",     "filter": ["has", "highway"], "buffer": -10},
      |  {"name": "Wide",      "filter": [">", "width", 5], "buffer": 0},
      |  {"name": "Mapped",    "filter": ["any", ["has", "building"], ["in", "highway", "primary"]], "buffer": 2},
      |  {"name": "Areas",     "filter": ["all", ["==", "$type", "Polygon"], ["!has", "highway"]], "buffer": 50}
      |]""".stripMargin)

  private val MlTypes = Seq(MlType.Classification, MlType.ObjectDetection, MlType.Segmentation)

  /** A closed ring around (cx, cy): counter-clockwise (positive area, an
    * exterior in MVT ring order) unless `hole`. */
  private def ring(r: Random, cx: Double, cy: Double, radius: Double, hole: Boolean): Seq[Coord] = {
    val n = 3 + r.nextInt(6)
    val pts = (0 until n).map { k =>
      val a = 2 * math.Pi * k / n
      Coord(math.round(cx + radius * math.cos(a)).toDouble, math.round(cy + radius * math.sin(a)).toDouble)
    }
    val ccw = pts :+ pts.head
    if (hole) ccw.reverse else ccw
  }

  /** Tile coordinates, partly outside the 0-4096 extent. */
  private def coord(r: Random): Double = (r.nextInt(5200) - 550).toDouble

  /** One seeded feature of every shape the fetch decodes. */
  private def feature(r: Random, fidx: Int): TileFeature = {
    val props = Seq(
      "building" -> Seq("yes", "no", "house"),
      "highway" -> Seq("primary", "residential"),
      "width" -> Seq("2", "7.5", "12", "nan", "wide"))
      .filter(_ => r.nextInt(3) == 0)
      .map { case (k, vs) => k -> vs(r.nextInt(vs.size)) }.toMap
    val id = if (r.nextBoolean()) Some(r.nextInt(1000).toLong) else None
    val (geomType, multi, parts) = r.nextInt(7) match {
      case 0 => // polygon, possibly holed
        val (cx, cy, rad) = (200 + r.nextInt(3700), 200 + r.nextInt(3700), 100 + r.nextInt(1800))
        val shell = ring(r, cx, cy, rad, hole = false)
        val holes = if (r.nextBoolean()) Seq(ring(r, cx, cy, rad / 3.0, hole = true)) else Nil
        ("Polygon", false, shell +: holes)
      case 1 => // two polygons
        ("MultiPolygon", true, Seq(ring(r, 1000, 1000, 50 + r.nextInt(800), hole = false),
          ring(r, 3000, 3000, 50 + r.nextInt(800), hole = false)))
      case 2 => // a line crossing the tile edge
        ("LineString", false, Seq(Seq.fill(2 + r.nextInt(4))(Coord(coord(r), coord(r)))))
      case 3 => // a multi-part line
        ("MultiLineString", true, Seq.fill(2 + r.nextInt(2))(Seq.fill(2 + r.nextInt(3))(Coord(coord(r), coord(r)))))
      case 4 => ("Point", false, Seq(Seq(Coord(coord(r), coord(r)))))
      case 5 => ("MultiPoint", true, Seq.fill(2 + r.nextInt(3))(Seq(Coord(coord(r), coord(r)))))
      case _ => // no coordinates at all
        (Seq("Polygon", "LineString", "Point")(r.nextInt(3)), false, if (r.nextBoolean()) Nil else Seq(Nil))
    }
    TileFeature(fidx, geomType, multi, parts, props, id)
  }

  /** 0-4096-space values that scale to exactly k + 0.5 pixels for even k,
    * where banker's rounding (k) and half-up (k + 1) part. MVT coordinates
    * are integers, which never land on a half pixel inside the tile. */
  private val halfPixels: Seq[Double] = (2 to 250 by 2).map(k => (2 * k + 1) * 2048.0 / 255)
    .filter(v => (v * 255.0 / 4096.0 * 2).isWhole && (v * 255.0 / 4096.0).toInt % 2 == 0)

  /** `nTiles` tiles of 0-11 seeded features each; the first tile also
    * holds one feature that matches every class but the last, and a line
    * whose bounds lie on half pixels. */
  private def tiles(seed: Long, nTiles: Int): Seq[((Int, Int, Int), Seq[TileFeature])] = {
    val r = new Random(seed)
    (0 until nTiles).map { t =>
      val fs = (0 until r.nextInt(12)).map(feature(r, _))
      val all = TileFeature(fs.size, "Polygon", multi = false,
        Seq(ring(r, 2048, 2048, 1500, hole = false)),
        Map("building" -> "yes", "highway" -> "primary", "width" -> "9"), Some(7L))
      val half = TileFeature(fs.size + 1, "LineString", multi = false,
        Seq(Seq(Coord(halfPixels(1), halfPixels(2)), Coord(halfPixels(3), halfPixels(4)))),
        Map("width" -> "9"), None)
      (14, t, seed.toInt) -> (if (t == 0) fs ++ Seq(all, half) else fs)
    }
  }

  /** A label as a comparable Scala value: a raster as its bytes, a box as
    * its five ints. */
  private def comparable(label: Any): Any = label match {
    case b: Array[Byte] => b.toSeq
    case bs: scala.collection.Seq[_] => bs.toSeq.map {
      case box: Row => (0 until 5).map(box.getInt)
      case Box(x0, y0, x1, y1, cls) => Seq(x0, y0, x1, y1, cls)
      case v => v
    }
  }

  /** tile key -> label of a feature-table operator's output. */
  private def labels(df: DataFrame): Map[(Int, Int, Int), Any] =
    df.collect().map { r =>
      (r.getInt(r.fieldIndex("z")), r.getInt(r.fieldIndex("x")), r.getInt(r.fieldIndex("y"))) ->
        comparable(r.get(r.fieldIndex("label")))
    }.toMap

  /** tile key -> label of the per-tile function, called on each tile's features. */
  private def kernel(ts: Seq[((Int, Int, Int), Seq[TileFeature])], cs: Seq[ClassSpec], ml: String): Map[(Int, Int, Int), Any] =
    ts.map { case (k, fs) =>
      k -> comparable(ml match {
        case MlType.Classification => Labels.classificationForTile(fs, cs)
        case MlType.ObjectDetection => Labels.objectDetectionForTile(fs, cs)
        case MlType.Segmentation => Segmentation.labelForTile(fs, cs)
      })
    }.toMap

  private def featureTable(ts: Seq[((Int, Int, Int), Seq[TileFeature])], cs: Seq[ClassSpec], ml: String): DataFrame = {
    val keys = ts.map(_._1).toDF("z", "x", "y")
    val rows = ts.flatMap { case ((z, x, y), fs) => fs.map(_.toRow(z, x, y)) }.toDS()
    ml match {
      case MlType.Classification => Labels.classification(keys, rows.toDF(), cs)
      case MlType.ObjectDetection => Labels.objectDetection(keys, rows.toDF(), cs)
      case MlType.Segmentation => Segmentation.segmentation(keys, rows, cs)
    }
  }

  for (ml <- MlTypes; (name, cs) <- Seq("five buffered classes" -> classes, "no classes" -> Nil))
    test(s"$ml, $name: the kernel equals the feature-table operator on seeded tiles") {
      (1 to 3).foreach { seed =>
        val ts = tiles(seed, 24)
        val got = kernel(ts, cs, ml)
        val want = labels(featureTable(ts, cs, ml))
        assert(got.keySet == want.keySet)
        ts.foreach { case (k, fs) => assert(got(k) == want(k), s"seed $seed, tile $k, ${fs.size} features") }
      }
    }

  test("the generator covers every shape, buffer outcome and multi-class match") {
    val fs = (1 to 3).flatMap(tiles(_, 24)).flatMap(_._2)
    Seq("Polygon", "MultiPolygon", "LineString", "MultiLineString", "Point", "MultiPoint")
      .foreach(g => assert(fs.exists(_.geomType == g), g))
    assert(fs.exists(f => f.parts.size > 1 && f.geomType == "Polygon"), "a holed polygon")
    assert(fs.exists(_.parts.flatten.isEmpty), "a feature with no coordinates")
    assert(fs.exists(_.parts.flatten.exists(c => c.x < 0 || c.x > 4096)), "a feature across the tile edge")
    assert(halfPixels.size >= 5, "bounds on half pixels")
    val od = kernel(tiles(1, 24), classes, MlType.ObjectDetection).values
      .flatMap(_.asInstanceOf[Seq[Seq[Int]]])
    assert(classes.indices.forall(c => od.exists(_(4) == c + 1)), "a box for every class")
    val shrunk = fs.filter(f => f.props.get("building").contains("yes") && f.parts.flatten.nonEmpty)
      .map(f => Labels.negBufferBounds(f.geomType, f.parts, -500))
    assert(shrunk.contains(None) && shrunk.exists(_.isDefined), "the -500 buffer keeps some buildings, not all")
  }
}
