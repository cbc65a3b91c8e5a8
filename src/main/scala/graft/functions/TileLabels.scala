package graft.functions

import graft.filters.GLFilter
import graft.model.{ClassSpec, Coord, MlType, TileFeature}
import graft.operators.{Labels, Segmentation}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ExpressionColumns
import org.apache.spark.sql.types._

/** The label of one fetched tile (`label.py:15-54`) from its nested
  * `features` array (`TileSources.fetch`: `array<struct<fidx, geomType,
  * multi, parts, props, id>>` in fidx order), for any ml_type, as one
  * native expression: `LabelMakerJob`'s whole label projection.
  *
  * The composable form of this label — `exists`/`transform`/`filter`/
  * `flatten` over the array, and a UDF for segmentation — runs as
  * interpreted higher-order functions (they are `CodegenFallback`) and
  * re-flattens a feature's coordinates once per bound per class. Here
  * [[TileLabelKernel]] walks the array once: each feature's filters are
  * evaluated once per class with [[GLFilter.eval]] (the predicate
  * semantics of all three ml_types), and its bounds are read once,
  * straight from the `ArrayData`.
  *
  * The result equals the feature-table operators on the same features
  * (`Labels.classification`, `Labels.objectDetection`,
  * `Segmentation.segmentation`; `TileLabelsSpec`). A null array labels
  * like an empty one.
  */
case class TileLabels(child: Expression, classes: Seq[ClassSpec], mlType: String)
    extends UnaryExpression {
  require(TileLabels.MlTypes.contains(mlType), s"unknown ml_type: $mlType")

  override def dataType: DataType = mlType match {
    case MlType.Classification => ArrayType(IntegerType, containsNull = false)
    case MlType.ObjectDetection => ArrayType(TileLabels.BoxType, containsNull = false)
    case MlType.Segmentation => BinaryType
  }

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _) if TileLabels.Fields.forall(s.fieldNames.contains) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"expected array<struct<${TileLabels.Fields.mkString(", ")}>>, got $t")
  }

  @transient private lazy val kernel = new TileLabelKernel(child.dataType, classes, mlType)

  override def eval(input: InternalRow): Any =
    kernel.label(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("tileLabels", kernel)
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
         |${c.code}
         |${CodeGenerator.javaType(dataType)} ${ev.value} =
         |  (${CodeGenerator.boxedType(dataType)}) $k.label(${c.isNull} ? null : ${c.value});
       """.stripMargin, isNull = FalseLiteral)
  }

  override def prettyName: String = "tile_labels"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TileLabels {
  private val MlTypes = Seq(MlType.Classification, MlType.ObjectDetection, MlType.Segmentation)
  /** The fields of a `features` element the label reads, in fetch order. */
  private[functions] val Fields = Seq("fidx", "geomType", "multi", "parts", "props", "id")

  /** One object-detection box, `[xmin, ymin, xmax, ymax, cls]` in pixels. */
  val BoxType: StructType = StructType(
    Seq("xmin", "ymin", "xmax", "ymax", "cls").map(StructField(_, IntegerType, nullable = false)))

  /** The label column of a fetched tile's `features` column. */
  def column(features: Column, classes: Seq[ClassSpec], mlType: String): Column =
    ExpressionColumns.column(TileLabels(ExpressionColumns.expression(features), classes, mlType))
}

/** [[TileLabels]]' per-row work, one instance per plan (a codegen
  * reference object, so it must be serializable). */
final class TileLabelKernel(featureType: DataType, classes: Seq[ClassSpec], mlType: String)
    extends Serializable {
  private val feature = featureType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private val width = feature.length
  private val Seq(iFidx, iGeomType, iMulti, iParts, iProps, iId) = TileLabels.Fields.map(feature.fieldIndex)
  private val point = feature(iParts).dataType.asInstanceOf[ArrayType].elementType
    .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private val (iX, iY) = (point.fieldIndex("x"), point.fieldIndex("y"))
  private val filters = classes.map(_.filter).toArray
  private val buffers = classes.map(_.buffer.getOrElse(0.0)).toArray

  def label(features: ArrayData): AnyRef = {
    val n = if (features == null) 0 else features.numElements()
    mlType match {
      case MlType.Classification => classification(features, n)
      case MlType.ObjectDetection => objectDetection(features, n)
      case MlType.Segmentation =>
        Segmentation.labelForTile((0 until n).map(i => tileFeature(features.getStruct(i, width))), classes)
    }
  }

  /** A1: slot c+1 = some feature matches class c; slot 0 = background,
    * 1 iff no class fired. Stops reading features once every class has. */
  private def classification(features: ArrayData, n: Int): ArrayData = {
    val slots = new Array[Int](filters.length + 1)
    var open = filters.length
    var i = 0
    while (i < n && open > 0) {
      val f = features.getStruct(i, width)
      val (props, geomType, id) = (propsOf(f), geomTypeOf(f), idOf(f))
      var c = 0
      while (c < filters.length) {
        if (slots(c + 1) == 0 && GLFilter.eval(filters(c), props, geomType, id)) {
          slots(c + 1) = 1
          open -= 1
        }
        c += 1
      }
      i += 1
    }
    if (open == filters.length) slots(0) = 1
    new GenericArrayData(slots)
  }

  /** A2: per feature with coordinates, one box per matching class in
    * class order — the reference's feature-then-class emit order. A
    * buffer >= 0 expands the bounds; a negative one shrinks the real
    * geometry ([[Labels.negBufferBounds]]), and shrunk away gives no box. */
  private def objectDetection(features: ArrayData, n: Int): ArrayData = {
    val boxes = scala.collection.mutable.ArrayBuffer[InternalRow]()
    var i = 0
    while (i < n) {
      val f = features.getStruct(i, width)
      val parts = if (f.isNullAt(iParts)) null else f.getArray(iParts)
      var minx, miny = Double.PositiveInfinity
      var maxx, maxy = Double.NegativeInfinity
      var points = 0
      var r = 0
      while (parts != null && r < parts.numElements()) {
        val run = parts.getArray(r)
        var p = 0
        while (p < run.numElements()) {
          val pt = run.getStruct(p, point.length)
          val x = pt.getDouble(iX)
          val y = pt.getDouble(iY)
          if (x < minx) minx = x
          if (x > maxx) maxx = x
          if (y < miny) miny = y
          if (y > maxy) maxy = y
          points += 1
          p += 1
        }
        r += 1
      }
      if (points > 0) {
        val (props, geomType, id) = (propsOf(f), geomTypeOf(f), idOf(f))
        var c = 0
        while (c < filters.length) {
          if (GLFilter.eval(filters(c), props, geomType, id)) {
            val b = buffers(c)
            if (b >= 0) boxes += box(minx - b, miny - b, maxx + b, maxy + b, c + 1)
            else Labels.negBufferBounds(geomType, coords(parts), b)
              .foreach(nb => boxes += box(nb.minx, nb.miny, nb.maxx, nb.maxy, c + 1))
          }
          c += 1
        }
      }
      i += 1
    }
    new GenericArrayData(boxes.toArray[Any])
  }

  /** Pixel-space box from 0-4096-space bounds, `label.py:68-96`: scaled to
    * 0-255 with banker's rounding (`rint` == Python `round` == Spark
    * `bround` on these magnitudes), y-flipped, +/-4 px padding, clamped. */
  private def box(minx: Double, miny: Double, maxx: Double, maxy: Double, cls: Int): InternalRow = {
    def px(v: Double): Int = Math.rint(v * 255.0 / 4096.0).toInt
    def clamp(v: Int): Int = math.max(0, math.min(255, v))
    new GenericInternalRow(Array[Any](
      clamp(px(minx) - 4), clamp(255 - px(maxy) - 4),
      clamp(px(maxx) + 4), clamp(255 - px(miny) + 4), cls))
  }

  private def geomTypeOf(f: InternalRow): String =
    if (f.isNullAt(iGeomType)) null else f.getUTF8String(iGeomType).toString

  private def idOf(f: InternalRow): Option[Long] =
    if (f.isNullAt(iId)) None else Some(f.getLong(iId))

  private def propsOf(f: InternalRow): Map[String, String] =
    if (f.isNullAt(iProps)) Map.empty
    else {
      val m = f.getMap(iProps)
      val (ks, vs) = (m.keyArray(), m.valueArray())
      (0 until m.numElements()).map(i => ks.getUTF8String(i).toString -> vs.getUTF8String(i).toString).toMap
    }

  private def coords(parts: ArrayData): Seq[Seq[Coord]] =
    (0 until parts.numElements()).map { r =>
      val run = parts.getArray(r)
      (0 until run.numElements()).map { p =>
        val pt = run.getStruct(p, point.length)
        Coord(pt.getDouble(iX), pt.getDouble(iY))
      }
    }

  private def tileFeature(f: InternalRow): TileFeature =
    TileFeature(f.getInt(iFidx), geomTypeOf(f), f.getBoolean(iMulti),
      if (f.isNullAt(iParts)) Nil else coords(f.getArray(iParts)), propsOf(f), idOf(f))
}
