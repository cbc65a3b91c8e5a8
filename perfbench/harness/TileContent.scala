package perfbench

import graft.sources.Mvt
import graft.sources.Mvt.EncFeature

import java.util.SplittableRandom

/** Seeded contents of the stub tile server. Every tile's bytes are a pure
  * function of (seed, x, y), so the same seed gives the same tiles.
  *
  * Light tiles carry one feature per class present in the tile plus one
  * feature no class matches; which classes are present is drawn first, so
  * the expected classification label is known without decoding anything.
  * Dense tiles carry 80-159 features: polygons (half of them with a hole),
  * multi-part lines and single or multi points, some reaching past the
  * tile edge so the clip path runs.
  */
object TileContent {
  val LightClasses: String =
    """[{"name": "Roads", "filter": ["has", "highway"]},
      | {"name": "Buildings", "filter": ["has", "building"]},
      | {"name": "Water", "filter": ["==", "natural", "water"]}]""".stripMargin

  val DenseClasses: String =
    """[{"name": "Roads", "filter": ["has", "highway"]},
      | {"name": "Buildings", "filter": ["all", ["has", "building"], ["!=", "$type", "Point"]]},
      | {"name": "Wide", "filter": ["all", [">", "width", 10], ["!in", "surface", "dirt", "grass"]], "buffer": 2.0},
      | {"name": "Green", "filter": ["in", "landuse", "grass", "park"]}]""".stripMargin

  val Images = 32

  private def rng(seed: Long, x: Int, y: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + x.toLong * 1000003L + y.toLong)

  /** Bit i set = class i of [[LightClasses]] is present in the tile. */
  def lightMask(seed: Long, x: Int, y: Int): Int = rng(seed, x, y).nextInt(8)

  /** Expected classification label of a light tile: background slot, then
    * one slot per class. */
  def lightLabel(seed: Long, x: Int, y: Int): Seq[Int] = {
    val m = lightMask(seed, x, y)
    (if (m == 0) 1 else 0) +: (0 until 3).map(i => (m >> i) & 1)
  }

  /** Which of the [[Images]] stub images a tile serves. */
  def imageIndex(seed: Long, x: Int, y: Int): Int =
    rng(seed + 1, x, y).nextInt(Images)

  private def square(r: SplittableRandom): Seq[(Long, Long)] = {
    val x = r.nextLong(0, 3600); val y = r.nextLong(0, 3600); val s = r.nextLong(64, 496)
    Seq((x, y), (x + s, y), (x + s, y + s), (x, y + s)) // counter-clockwise
  }

  def light(seed: Long, x: Int, y: Int): Array[Byte] = {
    val r = rng(seed, x, y)
    val mask = r.nextInt(8)
    val feats = Seq.newBuilder[EncFeature]
    if ((mask & 1) != 0)
      feats += EncFeature("LineString", Seq(Seq((r.nextLong(4096), 0L), (r.nextLong(4096), 4096L))),
        Map("highway" -> "primary"), Some(1L))
    if ((mask & 2) != 0) feats += EncFeature("Polygon", Seq(square(r)), Map("building" -> "yes"), Some(2L))
    if ((mask & 4) != 0) feats += EncFeature("Polygon", Seq(square(r)), Map("natural" -> "water"), Some(3L))
    feats += EncFeature("Point", Seq(Seq((r.nextLong(4096), r.nextLong(4096)))), Map("amenity" -> "bench"), Some(4L))
    Mvt.encode(feats.result())
  }

  /** A ring of `n` vertices around (cx, cy); counter-clockwise (positive
    * area, an exterior) unless `hole`. */
  private def ring(r: SplittableRandom, cx: Long, cy: Long, radius: Double, n: Int,
      hole: Boolean): Seq[(Long, Long)] = {
    val pts = (0 until n).map { i =>
      val a = 2 * math.Pi * i / n
      val d = radius * (0.7 + 0.3 * r.nextDouble())
      (cx + math.round(d * math.cos(a)), cy + math.round(d * math.sin(a)))
    }
    if (hole) pts.reverse else pts
  }

  def dense(seed: Long, x: Int, y: Int): Array[Byte] = {
    val r = rng(seed, x, y)
    val n = 80 + r.nextInt(80)
    val surfaces = Array("asphalt", "dirt", "grass", "paved")
    val feats = (0 until n).map { i =>
      val id = Some(i.toLong)
      r.nextInt(10) match {
        case k if k < 4 =>
          val cx = r.nextLong(-200, 4300); val cy = r.nextLong(-200, 4300)
          val radius = 40.0 + r.nextInt(400)
          val outer = ring(r, cx, cy, radius, 4 + r.nextInt(5), hole = false)
          val rings = if (r.nextBoolean()) Seq(outer, ring(r, cx, cy, radius * 0.35, 4, hole = true)) else Seq(outer)
          val props: Map[String, Any] = r.nextInt(3) match {
            case 0 => Map("landuse" -> (if (r.nextBoolean()) "grass" else "forest"))
            case _ => Map("building" -> "yes", "height" -> r.nextInt(60))
          }
          EncFeature("Polygon", rings, props, id)
        case k if k < 7 =>
          val parts = (0 until 1 + r.nextInt(3)).map { _ =>
            var px = r.nextLong(-100, 4200); var py = r.nextLong(-100, 4200)
            (0 until 2 + r.nextInt(4)).map { _ =>
              px += r.nextLong(-600, 600); py += r.nextLong(-600, 600); (px, py)
            }
          }
          EncFeature("LineString", parts,
            Map("highway" -> (if (r.nextBoolean()) "primary" else "residential"),
              "width" -> r.nextInt(20), "surface" -> surfaces(r.nextInt(4))), id)
        case _ =>
          val pts = (0 until 1 + r.nextInt(3)).map(_ => (r.nextLong(4096), r.nextLong(4096)))
          EncFeature("Point", Seq(pts),
            if (r.nextBoolean()) Map("amenity" -> "bench") else Map("building" -> "kiosk"), id)
      }
    }
    Mvt.encode(feats)
  }

  /** A 256x256 JPEG of seeded coloured rectangles. */
  def image(seed: Long, i: Int): Array[Byte] = {
    val r = new SplittableRandom(seed * 31 + i)
    val img = new java.awt.image.BufferedImage(256, 256, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    (0 until 12).foreach { _ =>
      g.setColor(new java.awt.Color(r.nextInt(256), r.nextInt(256), r.nextInt(256)))
      g.fillRect(r.nextInt(256), r.nextInt(256), 8 + r.nextInt(128), 8 + r.nextInt(128))
    }
    g.dispose()
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }
}
