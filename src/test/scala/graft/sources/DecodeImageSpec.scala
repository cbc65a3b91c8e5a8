package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import java.awt.image.BufferedImage
import javax.imageio.ImageIO

/** Pins [[TileSources.decodeImage]] byte for byte to the plain `getRGB`
  * decode it replaces, over every format the JDK writes: the raster-direct
  * copy (JPEG RGB, PNG RGB/RGBA, BMP) and the `getRGB` fallback (gray,
  * palette) must give the same shape and bytes. */
class DecodeImageSpec extends AnyFunSuite {

  /** The `getRGB` decode: 1 band for single-component images, RGBA with
    * alpha, else RGB, every sample from `getRGB`. */
  private def reference(bytes: Array[Byte]): (Int, Int, Int, Array[Byte]) = {
    val img = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val w = img.getWidth
    val h = img.getHeight
    val cm = img.getColorModel
    val bands = if (cm.getNumComponents == 1) 1 else if (cm.hasAlpha) 4 else 3
    val out = new Array[Byte](h * w * bands)
    for (y <- 0 until h; x <- 0 until w) {
      val v = img.getRGB(x, y)
      val i = (y * w + x) * bands
      if (bands == 1) out(i) = v.toByte
      else {
        out(i) = (v >> 16).toByte
        out(i + 1) = (v >> 8).toByte
        out(i + 2) = v.toByte
        if (bands == 4) out(i + 3) = (v >>> 24).toByte
      }
    }
    (h, w, bands, out)
  }

  /** A `w`×`h` image of `imageType` with seeded noise over a gradient (so
    * a lossy codec keeps some structure), encoded as `format`. */
  private def encoded(format: String, imageType: Int, w: Int, h: Int): Array[Byte] = {
    val rnd = new scala.util.Random(w * 31 + h + imageType)
    val img = new BufferedImage(w, h, imageType)
    for (y <- 0 until h; x <- 0 until w) {
      val a = if (img.getColorModel.hasAlpha) rnd.nextInt(256) else 255
      val r = (x * 255 / w + rnd.nextInt(40)) min 255
      val g = (y * 255 / h + rnd.nextInt(40)) min 255
      val b = rnd.nextInt(256)
      img.setRGB(x, y, (a << 24) | (r << 16) | (g << 8) | b)
    }
    val out = new java.io.ByteArrayOutputStream()
    assert(ImageIO.write(img, format, out), s"no $format writer for type $imageType")
    out.toByteArray
  }

  private val formats = Seq(
    "JPEG RGB" -> ("jpg", BufferedImage.TYPE_INT_RGB),
    "JPEG gray" -> ("jpg", BufferedImage.TYPE_BYTE_GRAY),
    "PNG RGB" -> ("png", BufferedImage.TYPE_INT_RGB),
    "PNG RGBA" -> ("png", BufferedImage.TYPE_INT_ARGB),
    "PNG gray" -> ("png", BufferedImage.TYPE_BYTE_GRAY),
    "indexed PNG" -> ("png", BufferedImage.TYPE_BYTE_INDEXED),
    "GIF" -> ("gif", BufferedImage.TYPE_BYTE_INDEXED),
    "BMP" -> ("bmp", BufferedImage.TYPE_INT_RGB))

  for ((name, (format, imageType)) <- formats; (w, h) <- Seq((37, 23), (256, 256)))
    test(s"$name ${w}x$h: decodeImage equals the getRGB decode byte for byte") {
      val bytes = encoded(format, imageType, w, h)
      val (eh, ew, eb, want) = reference(bytes)
      val (gh, gw, gb, got) = TileSources.decodeImage(bytes)
      assert((gh, gw, gb) == (eh, ew, eb))
      assert((gh, gw) == (h, w))
      assert(got.sameElements(want))
    }

  test("JPEG, PNG RGB/RGBA and BMP rasters take the direct copy; gray and palette do not") {
    def direct(format: String, imageType: Int): Boolean = {
      val img = TileSources.readImage(encoded(format, imageType, 37, 23))
      TileSources.rgbSamples(img.getColorModel) &&
        TileSources.copyInterleaved(img.getRaster, new Array[Byte](37 * 23 * 4), 37, 23,
          37 * 4, 4, img.getRaster.getNumBands)
    }
    for ((name, (format, imageType)) <- formats) {
      val want = !name.contains("gray") && !name.contains("indexed") && name != "GIF"
      assert(direct(format, imageType) == want, name)
    }
  }

  test("copyInterleaved clips to the window and keeps only the first nb bands") {
    val img = TileSources.readImage(encoded("png", BufferedImage.TYPE_INT_ARGB, 37, 23))
    val r = img.getRaster
    // a 40x30 destination with 5 slots per pixel, 20x10 window, 2 bands
    val got = Array.fill[Byte](40 * 30 * 5)(7)
    assert(TileSources.copyInterleaved(r, got, 20, 10, 40 * 5, 5, 2))
    val want = Array.fill[Byte](40 * 30 * 5)(7)
    for (y <- 0 until 10; x <- 0 until 20; c <- 0 until 2)
      want(y * 40 * 5 + x * 5 + c) = r.getSample(x, y, c).toByte
    assert(got.sameElements(want))
  }

  test("garbage bytes throw IOException(\"undecodable image\")") {
    val e = intercept[java.io.IOException] {
      TileSources.decodeImage("not an image at all".getBytes)
    }
    assert(e.getMessage == "undecodable image")
  }
}
