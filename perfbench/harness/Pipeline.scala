package perfbench

import graft.core.{BBox, Tiles}
import graft.filters.FilterCompiler
import graft.model.{ClassSpec, Coord, FeatureRow, MlType}
import graft.operators.{Labels, Segmentation, TileEnumeration}
import graft.plans.LabelMakerJob
import graft.sources.{Mvt, TileSources}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The `pipe-fetch` and `pipe-raster` workloads: `LabelMakerJob` over the
  * README's Rio bbox against [[StubServer]], one job at a time. */
object Pipeline {
  /** The west third of the README's Rio bbox; 391 tiles at zoom 14. */
  val Rio = BBox(-44.4836, -23.0266, -44.1266, -22.5856)
  /** Tiles per run whose rows are recomputed without HTTP. */
  val Sampled = 64

  /** `warmups`: untimed full passes before the timed ones. The rasterizer
    * and JTS paths keep speeding up over a second pass; the fetch path does
    * not. */
  final case class Spec(zoom: Int, dense: Boolean, delayMs: Int, imagery: Boolean,
      mlTypes: Seq[String], warmups: Int)

  val Specs = Map(
    "pipe-fetch" -> Spec(14, dense = false, delayMs = 20, imagery = true, Seq(MlType.Classification), 1),
    "pipe-raster" -> Spec(14, dense = true, delayMs = 0, imagery = false,
      Seq(MlType.Segmentation, MlType.ObjectDetection), 2))

  /** (x, y, xxhash64 over every output column) of a labeled-tile plan. */
  def hashed(df: DataFrame): DataFrame =
    df.select(col("x"), col("y"), xxhash64(df.columns.map(col): _*).as("h"))

  /** The rows `TileSources.vectorFeatures` emits for one tile, decoded
    * here without HTTP for the reference answer. */
  def featureRows(z: Int, x: Int, y: Int, bytes: Array[Byte]): Seq[FeatureRow] =
    Mvt.decode(bytes).getOrElse("osm", Nil).zipWithIndex.map { case (f, i) =>
      FeatureRow(z, x, y, i, if (f.multi) "Multi" + f.geomType else f.geomType, f.multi,
        f.parts.map(_.map { case (px, py) => Coord(px, py) }.toSeq).toSeq, f.props, f.id)
    }

  /** Order-independent digest: the sum of the row hashes mod 2^64, in hex. */
  def digest(hs: Iterable[Long]): String = f"${hs.foldLeft(0L)(_ + _)}%016x"

  def run(ctx: Ctx, workload: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val spec = Specs(workload)
    val seed = ctx.seed
    val keys = Tiles.enumerate(Rio, spec.zoom).toArray
    val nTiles = keys.length
    val labelBytes = keys.map { k =>
      (k.x, k.y) -> (if (spec.dense) TileContent.dense(seed, k.x, k.y) else TileContent.light(seed, k.x, k.y))
    }.toMap
    val images = (0 until TileContent.Images).map(TileContent.image(seed, _))
    val stub = new StubServer((x, y) => labelBytes.getOrElse((x, y), null),
      (x, y) => if (spec.imagery) images(TileContent.imageIndex(seed, x, y)) else null,
      spec.delayMs, ctx.cpus)
    ctx.report.info("t_inputs") = ctx.now.toString
    val classesJson = if (spec.dense) TileContent.DenseClasses else TileContent.LightClasses
    def job(ml: String): LabelMakerJob =
      LabelMakerJob(spec.zoom, Rio, ClassSpec.parseJson(classesJson),
        if (spec.imagery) Some(stub.imageUrl) else None, stub.labelUrl, ml)
    val out = new java.io.File(ctx.work, "out")

    // One job; returns (x, y, row hash[, classification label]) per output row.
    def execute(j: LabelMakerJob, path: String): Array[(Int, Int, Long, Seq[Int])] =
      if (spec.imagery) {
        j.writeParquet(spark, path)
        val back = spark.read.parquet(path)
        back.select(col("x"), col("y"), xxhash64(back.columns.map(col): _*), col("label"))
          .as[(Int, Int, Long, Seq[Int])].collect()
      } else hashed(j.build(spark)).as[(Int, Int, Long)].collect().map { case (x, y, h) => (x, y, h, Nil) }

    try {
      // untimed warm-up passes, so every timed pass runs warm and the
      // number of passes that fit in a run does not move the median
      for (_ <- 1 to spec.warmups; ml <- spec.mlTypes) execute(job(ml), new java.io.File(out, "warm").getPath)
      stub.take()
      ctx.report.firstOp = ctx.now

      val outputs = mutable.ArrayBuffer[(Int, Array[(Int, Int, Long, Seq[Int])])]() // (op index, rows)
      var reqs, bytes = 0L
      var area = 0.0
      var peak = 0
      val deadline = ctx.now + ctx.seconds
      var pass = 0
      // traced runs alternate untraced and traced passes in the order
      // T U U T ..., so warming over the run biases neither side
      while (pass < (if (ctx.traced) 4 else 1) || ctx.now < deadline) {
        val tracedPass = ctx.traced && (pass % 4 == 0 || pass % 4 == 3)
        if (tracedPass) ctx.trace.start()
        spec.mlTypes.foreach { ml =>
          val path = new java.io.File(out, s"p$pass").getPath
          val rows = ctx.op(ml, pass, tracedPass, "plans.job")(execute(job(ml), path))
          val (r, b, a, p) = stub.take()
          reqs += r; bytes += b; area += a; peak = math.max(peak, p)
          rows.foreach(rs => outputs += ((ctx.report.ops.size - 1, rs)))
        }
        if (tracedPass) ctx.trace.stop()
        pass += 1
      }

      // Correctness: every tile exactly once; a seeded sample of tiles
      // equal to the reference computed without HTTP; every op of one
      // ml_type with the same digest; classification labels equal to what
      // the stub was built to contain.
      val tiles = TileEnumeration.tiles(spark, Rio, spec.zoom)
      val sample = new scala.util.Random(seed).shuffle(keys.toSeq).take(Sampled).map(k => (k.x, k.y))
      val sampleTiles = sample.map { case (x, y) => (spec.zoom, x, y) }.toDF("z", "x", "y")
      val expected: Map[String, Map[(Int, Int), Long]] = spec.mlTypes.map { ml =>
        val ref = if (spec.imagery) {
          val imgs = images.zipWithIndex.map { case (b, i) =>
            val (h, w, bands, data) = TileSources.decodeImage(b)
            (i, h, w, bands, data)
          }.toDF("idx", "height", "width", "bands", "image")
          sample.map { case (x, y) => (spec.zoom, x, y, TileContent.lightLabel(seed, x, y),
              TileContent.imageIndex(seed, x, y)) }
            .toDF("z", "x", "y", "label", "idx").join(broadcast(imgs), "idx")
            .select("z", "x", "y", "label", "height", "width", "bands", "image")
        } else {
          val feats = referenceFeatures(spark, sample, spec.zoom, seed)
          val classes = ClassSpec.parseJson(classesJson)
          if (ml == MlType.Segmentation) Segmentation.segmentation(sampleTiles, feats, classes)
          else Labels.objectDetection(sampleTiles, feats.toDF(), classes)
        }
        ml -> hashed(ref).as[(Int, Int, Long)].collect().map { case (x, y, h) => (x, y) -> h }.toMap
      }.toMap
      val digests = mutable.LinkedHashMap[String, String]()
      outputs.foreach { case (i, rows) =>
        val o = ctx.report.ops(i)
        val exp = expected(o.name)
        val got = rows.map(r => (r._1, r._2) -> r._3).toMap
        val d = digest(rows.map(_._3))
        val first = digests.getOrElseUpdate(o.name, d)
        val error =
          if (rows.length != nTiles) Some(s"${rows.length} rows for $nTiles tiles")
          else if (got.size != nTiles) Some("a tile appears more than once")
          else if (exp.exists { case (k, h) => !got.get(k).contains(h) })
            Some(s"${exp.count { case (k, h) => !got.get(k).contains(h) }} sampled tiles differ from the reference")
          else if (d != first) Some(s"digest $d differs from the first ${o.name} job's $first")
          else if (o.name == MlType.Classification &&
              rows.exists(r => r._4 != TileContent.lightLabel(seed, r._1, r._2)))
            Some("classification labels differ from the stub's contents")
          else None
        ctx.report.ops(i) = o.copy(error = o.error.orElse(error), out = d)
      }
      digests.foreach { case (ml, d) => ctx.report.info(s"digest.$ml") = d }

      val nOps = ctx.report.ops.size
      ctx.report.info("tiles") = nTiles.toString
      if (ctx.traced) {
        ctx.reportSparkLayers(passes = ctx.report.ops.filter(_.traced).map(_.pass).distinct.size)
        val wall = ctx.report.ops.map(_.wall).sum
        ctx.report.layers("sources.requests_per_tile") = reqs.toDouble / (nTiles * nOps)
        ctx.report.layers("sources.inflight_mean") = area / wall
        ctx.report.layers("sources.inflight_max") = peak
        ctx.report.layers("sources.bytes") = bytes.toDouble / nOps
        probes(ctx, spec, keys.length, labelBytes.values.toSeq,
          keys.toSeq.map(k => images(TileContent.imageIndex(seed, k.x, k.y))),
          tiles, stub, classesJson, job(spec.mlTypes.head))
      }
      deleteTree(out)
    } finally stub.stop()
  }

  /** Features decoded on the driver side of the stub, without HTTP. */
  def referenceFeatures(spark: SparkSession, tiles: Seq[(Int, Int)], zoom: Int,
      seed: Long): Dataset[FeatureRow] = {
    import spark.implicits._
    tiles.toDS().flatMap { case (x, y) => featureRows(zoom, x, y, TileContent.dense(seed, x, y)) }
  }

  /** Traced run only: time each layer's public entry points from outside,
    * one after another, each fully consumed. */
  private def probes(ctx: Ctx, spec: Spec, nTiles: Int, labelBytes: Seq[Array[Byte]],
      imageBytes: Seq[Array[Byte]], tiles0: DataFrame, stub: StubServer, classesJson: String,
      job: LabelMakerJob): Unit = {
    val spark = ctx.spark
    val t = ctx.trace
    def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val spansBefore = t.spans.size
    t.start()
    t.span("plans.staged") {
      t.span("core.tile_count")(TileEnumeration.count(Rio, spec.zoom))
      val classes = t.span("filters.compile") {
        val cs = ClassSpec.parseJson(classesJson)
        cs.foreach(c => FilterCompiler.compile(c.filter))
        cs
      }
      t.span("plans.build")(job.build(spark))
      val tiles = t.span("operators.tiles") {
        val df = TileEnumeration.tiles(spark, Rio, spec.zoom)
        consume(df)
        df
      }
      val feats = t.span("sources.fetch") {
        val f = TileSources.vectorFeatures(tiles, stub.labelUrl).persist()
        f.count()
        f
      }
      if (spec.imagery) t.span("sources.fetch")(consume(TileSources.images(tiles, stub.imageUrl).toDF()))
      t.span("sources.mvt_decode")(labelBytes.foreach(Mvt.decode))
      if (spec.imagery) t.span("sources.image_decode")(imageBytes.foreach(TileSources.decodeImage))
      spec.mlTypes.foreach {
        case MlType.Segmentation =>
          t.span("operators.segmentation")(consume(Segmentation.segmentation(tiles, feats, classes)))
        case MlType.ObjectDetection =>
          t.span("operators.labels")(consume(Labels.objectDetection(tiles, feats.toDF(), classes)))
        case _ =>
          t.span("operators.labels")(consume(Labels.classification(tiles, feats.toDF(), classes)))
      }
      ctx.report.layers("operators.features_per_tile") = feats.count().toDouble / nTiles
      feats.unpersist()
      val result = job.build(spark).persist()
      result.count()
      val dir = new java.io.File(ctx.work, "out/write")
      t.span("plans.write")(result.write.mode("overwrite").parquet(dir.getPath))
      ctx.report.layers("plans.write_bytes") = treeBytes(dir)
      result.unpersist()
    }
    t.stop()
    val probeSpans = t.spans.drop(spansBefore)
    def total(name: String): Double = probeSpans.filter(_.name == name).map(s => s.end - s.start).sum
    Seq("sources.fetch", "sources.mvt_decode", "sources.image_decode", "filters.compile",
      "operators.tiles", "operators.labels", "operators.segmentation", "plans.build", "plans.write")
      .foreach(n => ctx.report.layers(n + "_s") = total(n))
  }

  def treeBytes(f: java.io.File): Double =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum else f.length().toDouble

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
