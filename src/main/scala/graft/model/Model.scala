package graft.model

import graft.filters.GLFilter
import com.fasterxml.jackson.databind.ObjectMapper

/** Engine data model (SURVEY §1.1). */

/** One coordinate in tile-local space (0..extent for decoded MVT features;
  * bottom-left origin, matching the Python decoder convention). */
final case class Coord(x: Double, y: Double)

/** What a label reads of one feature, in either of its two forms. */
sealed trait Feature {
  def fidx: Int
  def geomType: String
  def parts: Seq[Seq[Coord]]
  def props: Map[String, String]
  def id: Option[Long]
}

/** Relational feature form: one row per feature within a tile.
  * `parts` flattens any geometry into coordinate runs (rings for polygons).
  * `fidx` preserves within-tile feature order — label semantics are
  * order-sensitive (segmentation paint order, `label.py:54`). */
final case class FeatureRow(
    z: Int, x: Int, y: Int,
    fidx: Int,
    geomType: String,
    multi: Boolean,
    parts: Seq[Seq[Coord]],
    props: Map[String, String],
    id: Option[Long]) extends Feature

/** One feature nested in its tile's row: a [[FeatureRow]] without the
  * tile key. A fetched tile carries its features as an array of these, in
  * `fidx` order, so per-tile labels need no regrouping. */
final case class TileFeature(
    fidx: Int,
    geomType: String,
    multi: Boolean,
    parts: Seq[Seq[Coord]],
    props: Map[String, String],
    id: Option[Long]) extends Feature {
  def toRow(z: Int, x: Int, y: Int): FeatureRow =
    FeatureRow(z, x, y, fidx, geomType, multi, parts, props, id)
}

/** Class spec (`main.py:73`): name + GL filter + optional geometry buffer. */
final case class ClassSpec(name: String, filter: GLFilter, buffer: Option[Double] = None)

object ClassSpec {
  private val mapper = new ObjectMapper()

  /** Parse the reference's classes JSON:
    * `[{"name": "Roads", "filter": ["has", "highway"], "buffer": 2.0}, ...]` */
  def parseJson(json: String): Seq[ClassSpec] = {
    val root = mapper.readTree(json)
    (0 until root.size).map { i =>
      val n = root.get(i)
      ClassSpec(
        name = n.get("name").asText(),
        filter = GLFilter.fromNode(n.get("filter")),
        buffer = Option(n.get("buffer")).filter(!_.isNull).map(_.asDouble()))
    }
  }
}

/** ml_type tags (`main.py:56-61`). */
object MlType {
  val Classification = "classification"
  val ObjectDetection = "object-detection"
  val Segmentation = "segmentation"
}
