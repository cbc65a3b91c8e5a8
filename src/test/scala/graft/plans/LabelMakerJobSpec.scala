package graft.plans

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.SparkSpec
import graft.core.BBox
import graft.sources.Mvt
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import java.net.InetSocketAddress

/** Pipeline e2e (SURVEY §5.3): local HTTP stub serving fixture MVT + PNG
  * tiles -> full LabelMakerJob on local[4] -> per-tile records. */
class LabelMakerJobSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val classesJson =
    """[
      |  {"name": "Roads",     "filter": ["has", "highway"]},
      |  {"name": "Buildings", "filter": ["has", "building"]}
      |]""".stripMargin

  // 2x2 tiles at z13 (x 3083..3084, y 4633..4634; Rio bbox corner)
  private val bbox = BBox(-44.4836, -23.0266, -44.44, -22.99)

  private def fixtureTile: Array[Byte] = Mvt.encode(Seq(
    Mvt.EncFeature("Polygon",
      Seq(Seq((0L, 0L), (0L, 4096L), (4096L, 4096L), (4096L, 0L))),
      Map("building" -> "yes"), id = Some(1L)),
    Mvt.EncFeature("LineString",
      Seq(Seq((0L, 2048L), (4096L, 2048L))),
      Map("highway" -> "primary"), id = Some(2L))))

  /** `/mixed/{z}/{x}/{y}.pbf`: (x + y) % 3 picks a 404, a truncated MVT
    * body or the good fixture tile, so every partition holds all three. */
  private def mixedKind(x: Int, y: Int): Int = (x + y) % 3

  private def mixedTile(path: String): Array[Byte] = {
    val Array(x, y) = path.stripSuffix(".pbf").split('/').takeRight(2).map(_.toInt)
    mixedKind(x, y) match {
      case 0 => Array.emptyByteArray // 404
      case 1 => fixtureTile.take(fixtureTile.length / 2)
      case _ => fixtureTile
    }
  }

  /** A large and a small building and a road: a negative buffer keeps a
    * shrunk large building and shrinks the small one and the line away. */
  private def negativeBufferTile: Array[Byte] = Mvt.encode(Seq(
    Mvt.EncFeature("Polygon",
      Seq(Seq((500L, 500L), (500L, 3500L), (3500L, 3500L), (3500L, 500L))),
      Map("building" -> "yes"), id = Some(1L)),
    Mvt.EncFeature("LineString",
      Seq(Seq((0L, 2048L), (4096L, 2048L))),
      Map("highway" -> "primary"), id = Some(2L)),
    Mvt.EncFeature("Polygon",
      Seq(Seq((1000L, 1000L), (1000L, 1400L), (1400L, 1400L), (1400L, 1000L))),
      Map("building" -> "yes"), id = Some(3L))))

  private def pngBytes: Array[Byte] = {
    val img = new java.awt.image.BufferedImage(256, 256, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(10, 200, 30))
    g.fillRect(0, 0, 256, 256)
    g.dispose()
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def withServer[T](f: Int => T): T = {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    @volatile var wmsHits = 0
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val path = ex.getRequestURI.getPath
        val body: Array[Byte] =
          if (path.endsWith(".pbf")) {
            if (path.contains("bad")) "garbage".getBytes
            else if (path.startsWith("/mixed/")) mixedTile(path)
            else if (path.startsWith("/neg/")) negativeBufferTile
            else fixtureTile
          } else if (path.endsWith(".png") || path.startsWith("/wms")) {
            if (path.startsWith("/wms")) wmsHits += 1
            pngBytes
          } else Array.emptyByteArray
        if (body.isEmpty) { ex.sendResponseHeaders(404, -1) }
        else {
          ex.sendResponseHeaders(200, body.length.toLong)
          ex.getResponseBody.write(body)
        }
        ex.close()
      }
    })
    server.start()
    try f(server.getAddress.getPort)
    finally server.stop(0)
  }

  test("classification e2e over stub TMS imagery") {
    withServer { port =>
      val job = LabelMakerJob(13, Seq(bbox.west, bbox.south, bbox.east, bbox.north),
        classesJson,
        imagery = s"http://localhost:$port/img/{z}/{x}/{y}.png",
        labelSource = s"http://localhost:$port/labels/{z}/{x}/{y}.pbf",
        mlType = "classification")
      assert(job.nTiles == 4)
      val rows = job.collect(spark)
      assert(rows.length == 4)
      rows.foreach { r =>
        assert(r.getSeq[Int](r.fieldIndex("label")) == Seq(0, 1, 1))
        assert(r.getInt(r.fieldIndex("height")) == 256)
        assert(r.getInt(r.fieldIndex("bands")) == 3)
        val img = r.getAs[Array[Byte]](r.fieldIndex("image"))
        assert(img.length == 256 * 256 * 3)
        // solid color (10, 200, 30)
        assert(img(0) == 10.toByte && img(1) == 200.toByte && img(2) == 30.toByte)
      }
    }
  }

  test("object-detection e2e; failed label fetch degrades to empty label") {
    withServer { port =>
      val job = LabelMakerJob(13, Seq(bbox.west, bbox.south, bbox.east, bbox.north),
        classesJson, imagery = null,
        labelSource = s"http://localhost:$port/bad/{z}/{x}/{y}.pbf",
        mlType = "object-detection")
      val rows = job.collect(spark)
      assert(rows.length == 4)
      rows.foreach(r => assert(r.getSeq[Row](r.fieldIndex("label")).isEmpty))

      val good = job.copy(labelSource = s"http://localhost:$port/ok/{z}/{x}/{y}.pbf")
      val rows2 = good.collect(spark)
      rows2.foreach { r =>
        val bbs = r.getSeq[Row](r.fieldIndex("label"))
          .map(b => (b.getInt(0), b.getInt(1), b.getInt(2), b.getInt(3), b.getInt(4)))
        assert(bbs == Seq((0, 0, 255, 255, 2), (0, 123, 255, 131, 1)))
      }
    }
  }

  test("segmentation e2e with WMS imagery (bbox substitution)") {
    withServer { port =>
      val job = LabelMakerJob(13, Seq(bbox.west, bbox.south, bbox.east, bbox.north),
        classesJson,
        imagery = s"http://localhost:$port/wms?version=1.1.1&srs=EPSG:3857&bbox={bbox}&request=GetMap",
        labelSource = s"http://localhost:$port/labels/{z}/{x}/{y}.pbf",
        mlType = "segmentation")
      val rows = job.collect(spark)
      assert(rows.length == 4)
      rows.foreach { r =>
        val label = r.getAs[Array[Byte]](r.fieldIndex("label"))
        assert(label.length == 256 * 256)
        // line (class 1) painted over polygon (class 2) at row 127
        assert(label(127 * 256 + 100) == 1.toByte)
        assert(label(10 * 256 + 10) == 2.toByte)
      }
    }
  }

  test("classification e2e with COG imagery (S5 windowed reads)") {
    withServer { port =>
      // a COG covering the whole 2x2 job bbox: z10 tile (385,579) spans
      // z13 x 3080..3087, y 4632..4639
      val b = graft.core.Tiles.tileBounds3857(graft.core.TileKey(10, 385, 579))
      val size = 1024
      val res = (b.east - b.west) / size
      val dir = java.nio.file.Files.createTempDirectory("cogjob")
      val cogPath = dir.resolve("imagery.tif").toString
      graft.sources.TiffWriter.write(cogPath,
        Seq(graft.sources.TiffWriter.Level(size, size, (x, y) => (42, 84, 126))),
        tileSize = 128, originX = b.west, originY = b.north, resX = res, resY = res)
      val job = LabelMakerJob(13, Seq(bbox.west, bbox.south, bbox.east, bbox.north),
        classesJson,
        imagery = cogPath,
        labelSource = s"http://localhost:$port/labels/{z}/{x}/{y}.pbf",
        mlType = "classification")
      val rows = job.collect(spark)
      assert(rows.length == 4)
      rows.foreach { r =>
        assert(r.getInt(r.fieldIndex("height")) == 256)
        val img = r.getAs[Array[Byte]](r.fieldIndex("image"))
        assert(img.length == 256 * 256 * 3)
        assert(img(0) == 42.toByte && img(1) == 84.toByte && img(2) == 126.toByte)
      }
    }
  }

  test("classification e2e with a JPEG-compressed COG (shared JPEGTables)") {
    withServer { port =>
      val b = graft.core.Tiles.tileBounds3857(graft.core.TileKey(10, 385, 579))
      val size = 1024
      val res = (b.east - b.west) / size
      val dir = java.nio.file.Files.createTempDirectory("jpegcogjob")
      val cogPath = dir.resolve("imagery.tif").toString
      graft.sources.TiffWriter.write(cogPath,
        Seq(graft.sources.TiffWriter.Level(size, size, (x, y) => (42, 84, 126))),
        tileSize = 128, originX = b.west, originY = b.north, resX = res, resY = res,
        jpeg = true)
      val job = LabelMakerJob(13, Seq(bbox.west, bbox.south, bbox.east, bbox.north),
        classesJson,
        imagery = cogPath,
        labelSource = s"http://localhost:$port/labels/{z}/{x}/{y}.pbf",
        mlType = "classification")
      val rows = job.collect(spark)
      assert(rows.length == 4)
      rows.foreach { r =>
        assert(r.getSeq[Int](r.fieldIndex("label")) == Seq(0, 1, 1))
        val img = r.getAs[Array[Byte]](r.fieldIndex("image"))
        assert(img.length == 256 * 256 * 3)
        // lossy codec: solid color within a small tolerance
        val want = Array(42, 84, 126)
        for (i <- 0 until 9)
          assert(math.abs((img(i) & 0xff) - want(i % 3)) <= 3,
            s"byte $i = ${img(i) & 0xff}, want ~${want(i % 3)}")
      }
    }
  }

  test("imagery fetch failure fails the job (reference parity: uncaught image errors)") {
    withServer { port =>
      val job = LabelMakerJob(13, Seq(bbox.west, bbox.south, bbox.east, bbox.north),
        classesJson,
        imagery = s"http://localhost:$port/missing/{z}/{x}/{y}.gif", // 404s
        labelSource = s"http://localhost:$port/labels/{z}/{x}/{y}.pbf",
        mlType = "classification")
      val e = intercept[org.apache.spark.SparkException] { job.collect(spark) }
      assert(e.getMessage != null)
    }
  }

  /** Every node of the executed plan, through adaptive query stages. */
  private def planNodes(df: org.apache.spark.sql.DataFrame): Seq[String] =
    collect(df.queryExecution.executedPlan) { case p => p.nodeName }

  test("the job is one stage: no Exchange, BroadcastExchange or join in any ml_type's plan") {
    withServer { port =>
      for (ml <- Seq("classification", "object-detection", "segmentation");
           imagery <- Seq(s"http://localhost:$port/img/{z}/{x}/{y}.png", null)) {
        val job = LabelMakerJob(13, Seq(bbox.west, bbox.south, bbox.east, bbox.north),
          classesJson, imagery = imagery,
          labelSource = s"http://localhost:$port/labels/{z}/{x}/{y}.pbf", mlType = ml)
        val df = job.build(spark)
        assert(df.collect().length == 4)
        val nodes = planNodes(df)
        val banned = nodes.filter(n => n.contains("Exchange") || n.contains("Join"))
        assert(banned.isEmpty, s"$ml, imagery=${imagery != null}: ${nodes.mkString(" <- ")}")
      }
    }
  }

  test("mixed 404 / truncated / good label tiles in one window: exact labels, failures counted") {
    withServer { port =>
      // 7x7 tiles: 12-13 per partition on local[4], inside one fetch window
      val b = BBox(-44.4836, -23.0266, -44.2, -22.75)
      val job = LabelMakerJob(13, Seq(b.west, b.south, b.east, b.north), classesJson,
        imagery = s"http://localhost:$port/img/{z}/{x}/{y}.png",
        labelSource = s"http://localhost:$port/mixed/{z}/{x}/{y}.pbf",
        mlType = "classification")
      val failures = spark.sparkContext.longAccumulator("label_fetch_failures")
      val rows = job.build(spark, failures).collect()
      assert(rows.length == job.nTiles && job.nTiles >= 40)
      val keys = rows.map(r => (r.getInt(r.fieldIndex("x")), r.getInt(r.fieldIndex("y"))))
      val bad = keys.count { case (x, y) => mixedKind(x, y) != 2 }
      assert(Seq(0, 1, 2).forall(k => keys.exists { case (x, y) => mixedKind(x, y) == k }))
      rows.zip(keys).foreach { case (r, (x, y)) =>
        val want = if (mixedKind(x, y) == 2) Seq(0, 1, 1) else Seq(1, 0, 0)
        assert(r.getSeq[Int](r.fieldIndex("label")) == want, s"tile ($x, $y)")
        assert(r.getAs[Array[Byte]](r.fieldIndex("image")).length == 256 * 256 * 3)
      }
      assert(failures.value == bad)
    }
  }

  test("object-detection with negative buffers: the job equals Labels.objectDetection") {
    withServer { port =>
      val classes =
        """[
          |  {"name": "Roads",     "filter": ["has", "highway"],  "buffer": -10.0},
          |  {"name": "Buildings", "filter": ["has", "building"], "buffer": -500.0},
          |  {"name": "Lots",      "filter": ["has", "building"], "buffer": 50.0}
          |]""".stripMargin
      val job = LabelMakerJob(13, Seq(bbox.west, bbox.south, bbox.east, bbox.north),
        classes, imagery = null,
        labelSource = s"http://localhost:$port/neg/{z}/{x}/{y}.pbf",
        mlType = "object-detection")
      def boxes(df: org.apache.spark.sql.DataFrame): Map[(Int, Int), Seq[Seq[Int]]] =
        df.collect().map { r =>
          (r.getInt(r.fieldIndex("x")), r.getInt(r.fieldIndex("y"))) ->
            r.getSeq[Row](r.fieldIndex("label")).map(b => (0 until 5).map(b.getInt))
        }.toMap
      val got = boxes(job.build(spark))
      val tiles = job.tiles(spark)
      val want = boxes(graft.operators.Labels.objectDetection(tiles,
        graft.sources.TileSources.vectorFeatures(tiles, job.labelSource).toDF(), job.classes))
      assert(got.size == 4)
      assert(got == want)
      // the road and the small building shrink away: the large building
      // keeps a shrunk box, and both buildings keep their grown boxes
      got.values.foreach(bbs => assert(bbs.map(_(4)) == Seq(2, 3, 3), bbs))
    }
  }

  test("plan is lazy and explainable (P2 visualize equivalent)") {
    val job = LabelMakerJob(13, Seq(bbox.west, bbox.south, bbox.east, bbox.north),
      classesJson, imagery = null,
      labelSource = "http://localhost:1/never/{z}/{x}/{y}.pbf", // never fetched
      mlType = "classification")
    val plan = job.build(spark).queryExecution.toString
    assert(plan.nonEmpty) // building the plan must not touch the network
  }
}
