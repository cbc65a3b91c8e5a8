package graft.operators

import graft.filters.FilterCompiler
import graft.model.{ClassSpec, Coord, MlType}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-tile label aggregations (SURVEY §2.3, A1/A2/A4/A5).
  *
  * Input feature DataFrame schema (the engine's relational feature form):
  * `z:int, x:int, y:int, fidx:int, geomType:string, multi:boolean,
  *  parts:array<array<struct<x:double,y:double>>>,
  *  props:map<string,string>, id:bigint`.
  * `tiles` is the full keyspace (z,x,y) — tiles without features must still
  * emit a record with the empty label (A4, `label.py:99-109` + the implicit
  * every-tile guarantee of `main.py:90-97`).
  *
  * All label math here is built-in Column expressions. The feature-table
  * operators shuffle once on the tile key; the `tile*` forms label a
  * fetched tile's row in place, with no shuffle. Rasterization (A3) lives
  * in [[Segmentation]].
  */
/** 0-4096-space geometry bounds carried out of [[Labels.negBufferBounds]] —
  * top-level (not nested in the object) so the UnsafeProjection's generated
  * code can resolve its accessors: Janino fails method lookup on
  * `Labels$Bounds4096` and silently drops the whole projection to
  * interpreter mode (the [[graft.streaming.SessionState]] lesson). */
final case class Bounds4096(minx: Double, miny: Double, maxx: Double, maxy: Double)

object Labels {
  private val tileKey = Seq("z", "x", "y")

  /** A1 — classification: slot i+1 = EXISTS(feature matching filter_i),
    * slot 0 = background (1 iff no class fired), `label.py:15-23`. */
  def classification(tiles: DataFrame, features: DataFrame, classes: Seq[ClassSpec]): DataFrame = {
    if (classes.isEmpty) // label.py:15-22 with no classes: [1] (background)
      return tiles.select(col("z"), col("x"), col("y"), array(lit(1)).as("label"))
    val preds = classes.map(c => FilterCompiler.compile(c.filter))
    val agg = features.groupBy(tileKey.map(col): _*)
      .agg(
        max(when(preds.head, 1).otherwise(0)).as("c0"),
        preds.tail.zipWithIndex.map { case (p, i) =>
          max(when(p, 1).otherwise(0)).as(s"c${i + 1}")
        }: _*)
    val cs = classes.indices.map(i => coalesce(col(s"c$i"), lit(0)))
    val background = when(cs.reduce(_ + _) === 0, 1).otherwise(0)
    tiles.join(agg, tileKey, "left")
      .select(col("z"), col("x"), col("y"),
        array(background +: cs: _*).as("label"))
  }

  /** The 0-row object-detection label. */
  private def noBoxes: Column =
    typedLit(Seq.empty[(Int, Int, Int, Int, Int)])
      .cast("array<struct<xmin:int,ymin:int,xmax:int,ymax:int,cls:int>>")

  /** Pixel-space bbox for one (feature, class) pair from its 0-4096-space
    * bounds, `label.py:68-96`: scaled to 0-255 with banker's rounding
    * (Python `round` == `bround`), y-flipped, +/-4 px padding, clamped. */
  private def pixelBboxCols(minx: Column, miny: Column, maxx: Column, maxy: Column): Seq[Column] = {
    def px(c: Column): Column = bround(c * 255.0 / 4096.0, 0).cast("int")
    def clamp(c: Column): Column = greatest(lit(0), least(lit(255), c))
    Seq(
      clamp(px(minx) - 4), // xmin
      clamp(lit(255) - px(maxy) - 4), // ymin (y-flip + reorder, label.py:71-74)
      clamp(px(maxx) + 4), // xmax
      clamp(lit(255) - px(miny) + 4)) // ymax
  }

  /** Bounds of the JTS-buffered geometry in 0-4096 space — the reference
    * buffers the raw geometry (`label.py:29-32`, shapely `.buffer(d, 4)`,
    * GEOS == JTS by lineage) and only then takes `.bounds`. Needed only
    * when the buffer is NEGATIVE: bounds(buffer(g, d)) == expand(bounds(g),
    * d) exactly for d >= 0, but a shrink depends on the actual shape. A
    * geometry that shrinks away entirely yields None (the reference would
    * crash on shapely's empty bounds tuple; we skip the box — documented
    * divergence). UDF by necessity: a GEOS-style buffer is not expressible
    * in built-in Column algebra, and this branch only enters the plan when
    * a negative-buffer class exists. */
  private val negBufferBounds = udf { (geomType: String, parts: Seq[Seq[Coord]], buffer: Double) =>
    val g = Segmentation.buildGeometry(geomType, parts).buffer(buffer, 4)
    if (g.isEmpty) None
    else {
      val e = g.getEnvelopeInternal
      Some(Bounds4096(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
    }
  }

  /** A2 — object-detection: per matching (feature, class) one
    * `[xmin,ymin,xmax,ymax,cls]` row, in feature-then-class order
    * (`label.py:24-35`); empty tiles get a 0-row label (`label.py:105-106`).
    *
    * Single pass over the feature source: each feature emits an array of
    * per-class (matched?, buffer) entries which is filtered and exploded —
    * a union of per-class branches would re-run the (HTTP-fetching) source
    * once per class. */
  def objectDetection(tiles: DataFrame, features: DataFrame, classes: Seq[ClassSpec]): DataFrame = {
    if (classes.isEmpty) // no classes -> every tile gets the 0-row label
      return tiles.select(col("z"), col("x"), col("y"),
        noBoxes.as("label"))
    val classEntries = array(classes.zipWithIndex.map { case (c, i) =>
      struct(
        lit(i).as("cidx"),
        FilterCompiler.compile(c.filter).as("matched"),
        lit(c.buffer.getOrElse(0.0)).as("buffer"))
    }: _*)
    val hasNegativeBuffer = classes.exists(_.buffer.exists(_ < 0))
    val exploded = features
      .filter(size(flatten(col("parts"))) > 0)
      .select(col("z"), col("x"), col("y"), col("fidx"), col("geomType"), col("parts"),
        explode(filter(classEntries, e => e.getField("matched"))).as("ce"))
    val flat = flatten(col("parts"))
    val buf = col("ce.buffer")
    val bMinx = array_min(transform(flat, p => p.getField("x")))
    val bMaxx = array_max(transform(flat, p => p.getField("x")))
    val bMiny = array_min(transform(flat, p => p.getField("y")))
    val bMaxy = array_max(transform(flat, p => p.getField("y")))
    // negative buffers need the real (JTS) shrunk geometry's bounds; the
    // codegen'd columnar expand stays the only path in the plan otherwise
    val withBounds =
      if (!hasNegativeBuffer)
        exploded.withColumn("minx", bMinx - buf).withColumn("miny", bMiny - buf)
          .withColumn("maxx", bMaxx + buf).withColumn("maxy", bMaxy + buf)
      else {
        val nb = negBufferBounds(col("geomType"), col("parts"), buf)
        exploded.withColumn("nb", when(buf < 0, nb))
          .filter(buf >= 0 || col("nb").isNotNull) // fully-shrunk: no box
          .withColumn("minx", when(buf >= 0, bMinx - buf).otherwise(col("nb.minx")))
          .withColumn("miny", when(buf >= 0, bMiny - buf).otherwise(col("nb.miny")))
          .withColumn("maxx", when(buf >= 0, bMaxx + buf).otherwise(col("nb.maxx")))
          .withColumn("maxy", when(buf >= 0, bMaxy + buf).otherwise(col("nb.maxy")))
      }
    val Seq(x0, y0, x1, y1) =
      pixelBboxCols(col("minx"), col("miny"), col("maxx"), col("maxy"))
    val all = withBounds.select(col("z"), col("x"), col("y"),
      struct(
        col("fidx"), col("ce.cidx").as("cidx"),
        x0.as("xmin"), y0.as("ymin"), x1.as("xmax"), y1.as("ymax"),
        (col("ce.cidx") + 1).cast("int").as("cls")).as("bb"))
    val agg = all.groupBy(tileKey.map(col): _*)
      .agg(sort_array(collect_list(col("bb"))).as("bbs"))
      // feature-then-class emit order == sort by (fidx, cidx)
      .select(col("z"), col("x"), col("y"),
        transform(col("bbs"), b => struct(
          b.getField("xmin").as("xmin"), b.getField("ymin").as("ymin"),
          b.getField("xmax").as("xmax"), b.getField("ymax").as("ymax"),
          b.getField("cls").as("cls"))).as("label"))
    tiles.join(agg, tileKey, "left")
      .select(col("z"), col("x"), col("y"),
        coalesce(col("label"), noBoxes).as("label"))
  }

  // ---- the same labels on a fetched tile row (LabelMakerJob) ----
  //
  // `features` is the tile's `array<struct<fidx, geomType, multi, parts,
  // props, id>>` in fidx order (TileSources.fetch). The label is computed
  // in place on the tile's row: no regrouping by tile key and no join back
  // to the keyspace, because featureless and failed tiles already carry
  // an empty array.

  private def featureCols(f: Column): FilterCompiler.FeatureCols =
    FilterCompiler.FeatureCols(f.getField("props"), f.getField("geomType"), f.getField("id"))

  /** A1 on a tile row: slot i+1 = EXISTS(feature matching filter_i),
    * slot 0 = background. */
  def tileClassification(features: Column, classes: Seq[ClassSpec]): Column =
    if (classes.isEmpty) array(lit(1))
    else {
      val cs = classes.map { c =>
        when(exists(features, f => FilterCompiler.compile(c.filter, featureCols(f))), 1).otherwise(0)
      }
      array(when(cs.reduce(_ + _) === 0, 1).otherwise(0) +: cs: _*)
    }

  /** A2 on a tile row: per feature, the boxes of its matching classes in
    * class order, flattened in feature order — the reference's
    * feature-then-class emit order, with no sort. Same bounds and pixel
    * math as [[objectDetection]]. */
  def tileObjectDetection(features: Column, classes: Seq[ClassSpec]): Column =
    if (classes.isEmpty) noBoxes
    else flatten(transform(features, f => {
      val parts = f.getField("parts")
      val flat = flatten(parts)
      val cols = featureCols(f)
      // per class: null unless the feature matches, else (cls, 0-4096
      // bounds); a fully-shrunk negative buffer gives null bounds: no box
      val entries = array(classes.zipWithIndex.map { case (c, i) =>
        val buf = c.buffer.getOrElse(0.0)
        val bounds =
          if (buf >= 0) struct(
            (array_min(transform(flat, p => p.getField("x"))) - buf).as("minx"),
            (array_min(transform(flat, p => p.getField("y"))) - buf).as("miny"),
            (array_max(transform(flat, p => p.getField("x"))) + buf).as("maxx"),
            (array_max(transform(flat, p => p.getField("y"))) + buf).as("maxy"))
          else negBufferBounds(f.getField("geomType"), parts, lit(buf))
        when(FilterCompiler.compile(c.filter, cols) && size(flat) > 0,
          struct(lit(i + 1).as("cls"), bounds.as("b")))
      }: _*)
      transform(filter(entries, e => e.getField("b").isNotNull), e => {
        val b = e.getField("b")
        val Seq(x0, y0, x1, y1) = pixelBboxCols(
          b.getField("minx"), b.getField("miny"), b.getField("maxx"), b.getField("maxy"))
        struct(x0.as("xmin"), y0.as("ymin"), x1.as("xmax"), y1.as("ymax"), e.getField("cls").as("cls"))
      })
    }))

  /** A5 — class_match (`utils.py:32-40`): does a label contain class i. */
  def classMatch(mlType: String, label: Column, i: Int): Column = mlType match {
    case MlType.Classification => label.getItem(i) > 0
    case MlType.ObjectDetection => exists(label, b => b.getField("cls") === i)
    case MlType.Segmentation =>
      // label is a 65536-byte raster of class indices; "count_nonzero
      // (label == i)" as a presence test = does byte value i occur
      contains(label, lit(Array(i.toByte)))
    case _ => lit(null)
  }
}
