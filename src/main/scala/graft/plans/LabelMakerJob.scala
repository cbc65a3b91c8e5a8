package graft.plans

import graft.core.BBox
import graft.model.{ClassSpec, MlType}
import graft.operators.{Labels, Segmentation, TileEnumeration}
import graft.sources.TileSources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** The reference's job API (`LabelMakerJob`, `main.py:69-111`) re-expressed
  * as a lazy Dataset plan (P1-P6, SURVEY §2.4).
  *
  * Differences by design (documented in SURVEY §3/§4):
  *  - the tile list is never materialized on the driver — S1 is a
  *    partitioned `spark.range` projection (`main.py:89` builds a client-RAM
  *    list);
  *  - filters compile once at plan time (the reference re-compiles + evals
  *    per feature x class, `label.py:18,28,40`);
  *  - imagery dispatch resolves once at plan time (`utils.py:121-127` probes
  *    per task);
  *  - the reference's implicit 1:1 pairing of each tile's label and image
  *    tasks (`main.py:90-97`) is one fetch pass per tile: both requests
  *    start in the same prefetch window and the tile is labeled in place,
  *    so the plan needs no shuffle, no join and no image broadcast;
  *  - results go to a parquet sink or a Dataset, not a driver gather
  *    (`main.py:111` returns every image to the client).
  */
final case class LabelMakerJob(
    zoom: Int,
    bounds: BBox,
    classes: Seq[ClassSpec],
    imagery: Option[String],
    labelSource: String,
    mlType: String) {

  require(Seq(MlType.Classification, MlType.ObjectDetection, MlType.Segmentation).contains(mlType),
    s"unknown ml_type: $mlType")

  /** P5 — closed-form tile count (no action, unlike `main.py:101-107`). */
  def nTiles: Long = TileEnumeration.count(bounds, zoom)

  /** S1 — the tile keyspace. */
  def tiles(spark: SparkSession): DataFrame =
    TileEnumeration.tiles(spark, bounds, zoom)

  /** P2/P3 — the full labeled-tile plan: (z, x, y, label[, height, width,
    * bands, image]). One row per tile from one fetch pass that brings the
    * label tile and the image together (the reference's two Dask tasks per
    * tile, `main.py:90-97`); the label is computed in place on that row.
    * The plan is range -> fetch -> label projection: one stage, no shuffle,
    * no join. Lazy; `explain` it for the reference's `dask.visualize`
    * equivalent. */
  def build(spark: SparkSession): DataFrame =
    build(spark, spark.sparkContext.longAccumulator("label_fetch_failures"))

  /** [[build]], counting tiles whose label fetch or decode failed (and so
    * got the empty label) into `labelFailures`. */
  def build(spark: SparkSession, labelFailures: LongAccumulator): DataFrame = {
    val fetched = TileSources.fetch(tiles(spark), Some(labelSource), imagery,
      failures = Some(labelFailures))
    val features = col("features")
    val label = mlType match {
      case MlType.Classification => Labels.tileClassification(features, classes)
      case MlType.ObjectDetection => Labels.tileObjectDetection(features, classes)
      case MlType.Segmentation =>
        Segmentation.tileSegmentation(col("z"), col("x"), col("y"), features, classes)
    }
    val imageCols =
      if (imagery.isEmpty) Nil else Seq("height", "width", "bands", "image").map(col)
    fetched.select(Seq(col("z"), col("x"), col("y"), label.as("label")) ++ imageCols: _*)
  }

  /** P6 — execute into a parquet sink (the scale path). */
  def writeParquet(spark: SparkSession, path: String): Unit =
    build(spark).write.mode("overwrite").parquet(path)

  /** P6 — notebook-style gather (small jobs only). */
  def collect(spark: SparkSession): Array[org.apache.spark.sql.Row] =
    build(spark).collect()
}

object LabelMakerJob {
  /** Convenience constructor mirroring the reference's signature
    * (`main.py:71-85`): bounds as [west, south, east, north]. */
  def apply(zoom: Int, bounds: Seq[Double], classesJson: String,
      imagery: String, labelSource: String, mlType: String): LabelMakerJob =
    LabelMakerJob(zoom, BBox(bounds(0), bounds(1), bounds(2), bounds(3)),
      ClassSpec.parseJson(classesJson), Option(imagery).filter(_.nonEmpty),
      labelSource, mlType)
}
