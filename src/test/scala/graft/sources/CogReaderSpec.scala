package graft.sources

import graft.core.{Proj, TileKey, Tiles}
import org.scalatest.funsuite.AnyFunSuite

class CogReaderSpec extends AnyFunSuite {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory("cog").resolve(name).toString

  /** A COG covering exactly the 3857 bounds of `cover`, at `size` px. */
  private def writeCovering(path: String, cover: TileKey, size: Int,
      deflate: Boolean, withOverview: Boolean = false): Unit = {
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / size
    val levels = Seq(TiffWriter.Level(size, size,
      (x, y) => (x % 256, y % 256, 7))) ++
      (if (withOverview) Seq(TiffWriter.Level(size / 2, size / 2,
        (x, y) => (100, 150, 200))) else Nil)
    TiffWriter.write(path, levels, tileSize = 128,
      originX = b.west, originY = b.north, resX = res, resY = res,
      deflate = deflate)
  }

  test("full-res window read, uncompressed: nearest sampling of the gradient") {
    val cover = TileKey(10, 300, 400)
    val p = tmp("a.tif")
    writeCovering(p, cover, size = 512, deflate = false)
    val (h, w, bands, data) = CogReader.tile(p, cover)
    assert(h == 256 && w == 256 && bands == 3)
    // out pixel (px,py) samples raster (2*px+1, 2*py+1): r=(2px+1)%256
    val px = 10
    val py = 20
    val i = (py * 256 + px) * 3
    assert((data(i) & 0xff) == (2 * px + 1) % 256)
    assert((data(i + 1) & 0xff) == (2 * py + 1) % 256)
    assert((data(i + 2) & 0xff) == 7)
  }

  test("deflate tiles decode identically") {
    val cover = TileKey(10, 300, 400)
    val p1 = tmp("raw.tif")
    val p2 = tmp("zip.tif")
    writeCovering(p1, cover, 512, deflate = false)
    writeCovering(p2, cover, 512, deflate = true)
    val (_, _, _, a) = CogReader.tile(p1, cover)
    val (_, _, _, b) = CogReader.tile(p2, cover)
    assert(a.sameElements(b))
  }

  test("child XYZ tile reads the right quadrant at full resolution") {
    val cover = TileKey(10, 300, 400)
    val p = tmp("c.tif")
    writeCovering(p, cover, 512, deflate = false)
    // NE child: upper-right quadrant of the raster
    val child = TileKey(11, 601, 800)
    val (_, _, _, data) = CogReader.tile(p, child)
    // out pixel (px,py) -> raster ((256 + px) + 0.5ish, py...): rx = 256+px
    val px = 4
    val py = 6
    val i = (py * 256 + px) * 3
    assert((data(i) & 0xff) == (256 + px) % 256)
    assert((data(i + 1) & 0xff) == py % 256)
  }

  test("overview IFD is chosen when the target resolution is coarser") {
    val cover = TileKey(10, 300, 400)
    val p = tmp("ov.tif")
    writeCovering(p, cover, 512, deflate = false, withOverview = true)
    // parent tile: target res = 2x the full-res -> overview (solid color)
    val parent = TileKey(9, 150, 200)
    val (_, _, _, data) = CogReader.tile(p, parent)
    // the quadrant covered by our raster is solid (100,150,200); find one
    // such pixel (cover tile = child of parent at even x, even y -> NW)
    val i = (10 * 256 + 10) * 3
    assert((data(i) & 0xff) == 100 && (data(i + 1) & 0xff) == 150 && (data(i + 2) & 0xff) == 200)
  }

  test("pixels outside the raster pad with zeros") {
    val cover = TileKey(10, 300, 400)
    val p = tmp("pad.tif")
    writeCovering(p, cover, 512, deflate = false)
    val neighbor = TileKey(10, 301, 400) // entirely outside
    val (_, _, _, data) = CogReader.tile(p, neighbor)
    assert(data.forall(_ == 0))
  }

  test("HTTP range reads: 206 slices work, Range-ignoring servers fail loudly") {
    val cover = TileKey(10, 300, 400)
    val p = tmp("http.tif")
    writeCovering(p, cover, 512, deflate = true)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0),
      2 * TileSources.FetchWindow)
    @volatile var honorRange = true
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val range = Option(ex.getRequestHeaders.getFirst("Range"))
      if (honorRange && range.isDefined) {
        val Array(a, b) = range.get.stripPrefix("bytes=").split("-").map(_.toLong)
        val hi = math.min(b, bytes.length - 1)
        val body = java.util.Arrays.copyOfRange(bytes, a.toInt, hi.toInt + 1)
        ex.getResponseHeaders.add("Content-Range", s"bytes $a-$hi/${bytes.length}")
        ex.sendResponseHeaders(206, body.length.toLong)
        ex.getResponseBody.write(body)
      } else {
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      }
      ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/imagery.tif"
      val (_, _, _, viaHttp) = CogReader.tile(url, cover)
      val (_, _, _, viaFile) = CogReader.tile(p, cover)
      assert(viaHttp.sameElements(viaFile))
      // Range-ignoring server: must fail, not corrupt
      honorRange = false
      val url2 = s"http://127.0.0.1:${server.getAddress.getPort}/imagery2.tif"
      val e = intercept[java.io.IOException] { CogReader.tile(url2, cover) }
      assert(e.getMessage.contains("206"))
    } finally server.stop(0)
  }

  test("BigTIFF reads identically to classic TIFF") {
    val cover = TileKey(10, 300, 400)
    val p1 = tmp("classic.tif")
    val p2 = tmp("big.tif")
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / 512
    val levels = Seq(TiffWriter.Level(512, 512, (x, y) => (x % 256, y % 256, 7)))
    TiffWriter.write(p1, levels, tileSize = 128, originX = b.west, originY = b.north,
      resX = res, resY = res, deflate = true)
    TiffWriter.write(p2, levels, tileSize = 128, originX = b.west, originY = b.north,
      resX = res, resY = res, deflate = true, bigtiff = true)
    val (_, _, _, classic) = CogReader.tile(p1, cover)
    val (_, _, _, big) = CogReader.tile(p2, cover)
    assert(big.sameElements(classic))
  }

  test("JPEG tiles with shared JPEGTables decode (solid color, lossy-tolerant)") {
    val cover = TileKey(10, 300, 400)
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / 512
    val levels = Seq(TiffWriter.Level(512, 512, (_, _) => (100, 150, 200)))
    for ((shared, name) <- Seq((true, "jt.tif"), (false, "jself.tif"))) {
      val p = tmp(name)
      TiffWriter.write(p, levels, tileSize = 128, originX = b.west, originY = b.north,
        resX = res, resY = res, jpeg = true, jpegSharedTables = shared)
      val (h, w, bands, data) = CogReader.tile(p, cover)
      assert(h == 256 && w == 256 && bands == 3)
      val want = Array(100, 150, 200)
      var i = 0
      while (i < data.length) {
        assert(math.abs((data(i) & 0xff) - want(i % 3)) <= 3,
          s"pixel byte $i = ${data(i) & 0xff}, want ~${want(i % 3)} (shared=$shared)")
        i += 1
      }
    }
  }

  test("striped legacy layout reads identically to tiled") {
    val cover = TileKey(10, 300, 400)
    val p1 = tmp("tiled.tif")
    val p2 = tmp("striped.tif")
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / 512
    val levels = Seq(TiffWriter.Level(512, 512, (x, y) => (x % 256, y % 256, 7)))
    TiffWriter.write(p1, levels, tileSize = 128, originX = b.west, originY = b.north,
      resX = res, resY = res, deflate = true)
    TiffWriter.write(p2, levels, tileSize = 128, originX = b.west, originY = b.north,
      resX = res, resY = res, deflate = true, striped = true)
    val (_, _, _, tiled) = CogReader.tile(p1, cover)
    val (_, _, _, striped) = CogReader.tile(p2, cover)
    assert(striped.sameElements(tiled))
  }

  private def gradientLevels = Seq(TiffWriter.Level(512, 512, (x, y) => (x % 256, y % 256, 7)))

  private def writeGradient(path: String, cover: TileKey, bps: Int = 8,
      predictor: Int = 1, planar: Boolean = false, deflate: Boolean = true,
      lzw: Boolean = false, zstd: Boolean = false,
      lzma: Boolean = false): Unit = {
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / 512
    // for bps=16, emit v*257 = (v<<8)|v so the high byte equals the 8-bit value
    val levels =
      if (bps == 16) Seq(TiffWriter.Level(512, 512, (x, y) => ((x % 256) * 257, (y % 256) * 257, 7 * 257)))
      else gradientLevels
    TiffWriter.write(path, levels, tileSize = 128, originX = b.west, originY = b.north,
      resX = res, resY = res, deflate = deflate && !lzw && !zstd && !lzma,
      bps = bps, predictor = predictor, planar = planar, lzw = lzw,
      zstd = zstd, lzma = lzma)
  }

  test("predictor=2 (horizontal differencing) deflate decodes identically to no-predictor") {
    val cover = TileKey(10, 300, 400)
    val p1 = tmp("nopred.tif")
    val p2 = tmp("pred2.tif")
    writeGradient(p1, cover)
    writeGradient(p2, cover, predictor = 2)
    val (_, _, _, a) = CogReader.tile(p1, cover)
    val (_, _, _, b) = CogReader.tile(p2, cover)
    assert(b.sameElements(a))
  }

  test("unsupported predictor value fails loudly instead of decoding corrupt pixels") {
    val cover = TileKey(10, 300, 400)
    val p = tmp("pred4.tif")
    writeGradient(p, cover, predictor = 4) // no such predictor
    val e = intercept[java.io.IOException] { CogReader.tile(p, cover) }
    assert(e.getMessage.contains("predictor"))
  }

  test("ZSTD tiles (compression 50000) decode identically to raw") {
    val cover = TileKey(10, 300, 400)
    val p1 = tmp("raw_for_zstd.tif")
    val p2 = tmp("zstd.tif")
    writeGradient(p1, cover)
    writeGradient(p2, cover, zstd = true)
    val (_, _, _, a) = CogReader.tile(p1, cover)
    val (_, _, _, b) = CogReader.tile(p2, cover)
    assert(b.sameElements(a))
  }

  test("LZMA tiles (compression 34925) decode identically to raw, with and without predictor 2") {
    val cover = TileKey(10, 300, 400)
    val p1 = tmp("raw_for_lzma.tif")
    val p2 = tmp("lzma.tif")
    val p3 = tmp("lzma_pred2.tif")
    writeGradient(p1, cover)
    writeGradient(p2, cover, lzma = true)
    writeGradient(p3, cover, lzma = true, predictor = 2)
    val (_, _, _, a) = CogReader.tile(p1, cover)
    val (_, _, _, b) = CogReader.tile(p2, cover)
    val (_, _, _, c) = CogReader.tile(p3, cover)
    assert(b.sameElements(a))
    assert(c.sameElements(a))
  }

  // --- LERC (compression 34887) ---

  /** Fixture blob + its liblerc ground-truth pixels (invalid = 0). */
  private def lercFixture(name: String): (Array[Byte], Array[Double], Int, Int) = {
    def res(n: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/lerc/$n")
      require(in != null, s"missing fixture $n")
      try in.readAllBytes() finally in.close()
    }
    val blob = res(s"$name.lerc2")
    val e = res(s"$name.expect")
    def le32(o: Int): Int =
      (e(o) & 0xff) | ((e(o + 1) & 0xff) << 8) | ((e(o + 2) & 0xff) << 16) | ((e(o + 3) & 0xff) << 24)
    val rows = le32(0); val cols = le32(4); val ndim = le32(8); val dt = le32(12)
    require(ndim == 1, "spec helper reads single-band fixtures")
    val total = rows * cols
    val bb = java.nio.ByteBuffer.wrap(e, 16 + total, e.length - 16 - total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val vals = Array.fill(total)(dt match {
      case 1 => (bb.get() & 0xff).toDouble
      case 6 => bb.getFloat().toDouble
      case other => throw new IllegalArgumentException(s"dt $other")
    })
    (blob, vals, rows, cols)
  }

  /** 32x32 gray COG over `cover` from four 16x16 fixture tiles — once as
    * LERC blobs, once raw — and the warped reads must be identical. */
  private def lercQuad(names: Seq[String], lercAdd: Int): (String, String) = {
    val cover = TileKey(10, 300, 400)
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / 32
    val parts = names.map(lercFixture(_))
    def pixel(x: Int, y: Int): (Int, Int, Int) = {
      val (ti, tx, ty) = ((y / 16) * 2 + (x / 16), x % 16, y % 16)
      val v = parts(ti)._2(ty * 16 + tx).toInt
      (v, v, v)
    }
    val pLerc = tmp(s"lerc$lercAdd.tif")
    val pRaw = tmp(s"lerc${lercAdd}_raw.tif")
    TiffWriter.write(pLerc, Seq(TiffWriter.Level(32, 32, pixel)), tileSize = 16,
      originX = b.west, originY = b.north, resX = res, resY = res,
      samplesPerPixel = 1, lercTiles = Some(parts.map(_._1)), lercAdd = lercAdd)
    TiffWriter.write(pRaw, Seq(TiffWriter.Level(32, 32, pixel)), tileSize = 16,
      originX = b.west, originY = b.north, resX = res, resY = res,
      samplesPerPixel = 1)
    (pLerc, pRaw)
  }

  test("LERC tiles (34887) decode identically to raw across huffman/tiling/sweep/const paths") {
    val names = Seq("v6_u8_grad", "v6_u8_rows_lut", "v6_u8_noise_sweep", "v6_u8_const")
    val (pLerc, pRaw) = lercQuad(names, lercAdd = 0)
    val (_, _, bands, a) = CogReader.tile(pLerc, TileKey(10, 300, 400))
    val (_, _, _, b) = CogReader.tile(pRaw, TileKey(10, 300, 400))
    assert(bands == 1)
    assert(a.sameElements(b))
  }

  test("LERC outer deflate and zstd layers (LERC_PARAMETERS) unwrap identically") {
    val names = Seq("v6_u8_grad", "v6_u8_grad_masked", "v5_u8_rows_lut", "v5_u8_const")
    val (pD, pRawD) = lercQuad(names, lercAdd = 1)
    val (pZ, _) = lercQuad(names, lercAdd = 2)
    val key = TileKey(10, 300, 400)
    val (_, _, _, a) = CogReader.tile(pD, key)
    val (_, _, _, b) = CogReader.tile(pZ, key)
    val (_, _, _, c) = CogReader.tile(pRawD, key)
    assert(a.sameElements(c) && b.sameElements(c))
  }

  test("LERC float32 tiles read through tileFloat with exact liblerc reconstruction") {
    val cover = TileKey(10, 300, 400)
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / 16
    val (blob, vals, _, _) = lercFixture("v6_f32_lossy")
    def pixel(x: Int, y: Int): (Int, Int, Int) = {
      val bits = java.lang.Float.floatToIntBits(vals(y * 16 + x).toFloat)
      (bits, bits, bits)
    }
    val pLerc = tmp("lercf.tif")
    val pRaw = tmp("lercf_raw.tif")
    TiffWriter.write(pLerc, Seq(TiffWriter.Level(16, 16, pixel)), tileSize = 16,
      originX = b.west, originY = b.north, resX = res, resY = res,
      samplesPerPixel = 1, bps = 32, sampleFormat = 3, lercTiles = Some(Seq(blob)))
    TiffWriter.write(pRaw, Seq(TiffWriter.Level(16, 16, pixel)), tileSize = 16,
      originX = b.west, originY = b.north, resX = res, resY = res,
      samplesPerPixel = 1, bps = 32, sampleFormat = 3)
    val (_, _, _, a) = CogReader.tileFloat(pLerc, cover)
    val (_, _, _, c) = CogReader.tileFloat(pRaw, cover)
    assert(a.sameElements(c))
  }

  test("LERC v6 lossless-float FPL tiles are refused by name inside a TIFF") {
    val cover = TileKey(10, 300, 400)
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / 16
    def resBytes(n: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/lerc/$n")
      try in.readAllBytes() finally in.close()
    }
    val p = tmp("lerc_fpl.tif")
    TiffWriter.write(p, Seq(TiffWriter.Level(16, 16, (_, _) => (0, 0, 0))), tileSize = 16,
      originX = b.west, originY = b.north, resX = res, resY = res,
      samplesPerPixel = 1, bps = 32, sampleFormat = 3,
      lercTiles = Some(Seq(resBytes("v6_f32_fpl_refused.lerc2"))))
    val e = intercept[java.io.IOException](CogReader.tileFloat(p, cover))
    assert(e.getMessage.contains("FPL"))
  }

  test("a truncated LZMA tile throws instead of returning partial pixels") {
    val raw = Array.tabulate[Byte](256)(i => (i % 97).toByte)
    val bo = new java.io.ByteArrayOutputStream()
    val xz = new org.tukaani.xz.XZOutputStream(bo,
      new org.tukaani.xz.LZMA2Options(6))
    xz.write(raw); xz.finish(); xz.close()
    val ok = CogReader.lzmaDecompress(bo.toByteArray, 256)
    assert(ok.sameElements(raw))
    intercept[java.io.IOException] {
      CogReader.lzmaDecompress(bo.toByteArray, 300) // short stream
    }
  }

  test("uint16 samples downconvert to uint8 via the high byte") {
    val cover = TileKey(10, 300, 400)
    val p8 = tmp("u8.tif")
    val p16 = tmp("u16.tif")
    writeGradient(p8, cover, bps = 8)
    writeGradient(p16, cover, bps = 16)
    val (_, _, _, a) = CogReader.tile(p8, cover)
    val (_, _, bands, b) = CogReader.tile(p16, cover)
    assert(bands == 3)
    assert(b.sameElements(a)) // (v*257) >> 8 == v
  }

  test("planar configuration 2 interleaves to the same chunky result") {
    val cover = TileKey(10, 300, 400)
    val pc = tmp("chunky.tif")
    val pp = tmp("planar.tif")
    writeGradient(pc, cover)
    writeGradient(pp, cover, planar = true)
    val (_, _, _, a) = CogReader.tile(pc, cover)
    val (_, _, _, b) = CogReader.tile(pp, cover)
    assert(b.sameElements(a))
  }

  test("uint16 + planar + predictor=2 combined decode matches the 8-bit chunky reference") {
    val cover = TileKey(10, 300, 400)
    val pref = tmp("ref8.tif")
    val pall = tmp("all16.tif")
    writeGradient(pref, cover)
    writeGradient(pall, cover, bps = 16, planar = true, predictor = 2)
    val (_, _, _, a) = CogReader.tile(pref, cover)
    val (_, _, _, b) = CogReader.tile(pall, cover)
    assert(b.sameElements(a))
  }

  test("LZW tiles decode identically to raw (9->12-bit width growth + clears on the full gradient)") {
    val cover = TileKey(10, 300, 400)
    val p1 = tmp("raw2.tif")
    val p2 = tmp("lzw.tif")
    writeGradient(p1, cover, deflate = false)
    writeGradient(p2, cover, lzw = true)
    val (_, _, _, a) = CogReader.tile(p1, cover)
    val (_, _, _, b) = CogReader.tile(p2, cover)
    assert(b.sameElements(a))
  }

  test("LZW + predictor=2 (the GDAL-default COG combo) decodes identically") {
    val cover = TileKey(10, 300, 400)
    val p1 = tmp("plain2.tif")
    val p2 = tmp("lzwpred.tif")
    writeGradient(p1, cover)
    writeGradient(p2, cover, lzw = true, predictor = 2)
    val (_, _, _, a) = CogReader.tile(p1, cover)
    val (_, _, _, b) = CogReader.tile(p2, cover)
    assert(b.sameElements(a))
  }

  test("PackBits tiles decode identically to raw (solid regions = long runs)") {
    val cover = TileKey(10, 300, 400)
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / 512
    // blocky pattern: long repeat runs AND literal stretches
    val levels = Seq(TiffWriter.Level(512, 512,
      (x, y) => if ((x / 64 + y / 64) % 2 == 0) (200, 10, 10) else (x % 256, y % 256, 3)))
    val p1 = tmp("pbraw.tif")
    val p2 = tmp("pb.tif")
    TiffWriter.write(p1, levels, tileSize = 128, originX = b.west, originY = b.north,
      resX = res, resY = res)
    TiffWriter.write(p2, levels, tileSize = 128, originX = b.west, originY = b.north,
      resX = res, resY = res, packbits = true)
    val (_, _, _, a) = CogReader.tile(p1, cover)
    val (_, _, _, c) = CogReader.tile(p2, cover)
    assert(c.sameElements(a))
  }

  test("LZW + uint16 + planar + predictor=2 combined matches the 8-bit reference") {
    val cover = TileKey(10, 300, 400)
    val p1 = tmp("ref8b.tif")
    val p2 = tmp("lzwall.tif")
    writeGradient(p1, cover)
    writeGradient(p2, cover, lzw = true, bps = 16, planar = true, predictor = 2)
    val (_, _, _, a) = CogReader.tile(p1, cover)
    val (_, _, _, b) = CogReader.tile(p2, cover)
    assert(b.sameElements(a))
  }

  test("striped file with a SHORT final strip (height % RowsPerStrip != 0) reads like tiled") {
    val cover = TileKey(10, 300, 400)
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / 512
    // 500 rows -> strips of 128,128,128,116: real strips are not padded
    val levels = Seq(TiffWriter.Level(512, 500, (x, y) => (x % 256, y % 256, 7)))
    val p1 = tmp("shorttiled.tif")
    val p2 = tmp("shortstrips.tif")
    val p3 = tmp("shortstripsraw.tif")
    TiffWriter.write(p1, levels, tileSize = 128, originX = b.west, originY = b.north,
      resX = res, resY = res, deflate = true)
    TiffWriter.write(p2, levels, tileSize = 128, originX = b.west, originY = b.north,
      resX = res, resY = res, deflate = true, striped = true)
    TiffWriter.write(p3, levels, tileSize = 128, originX = b.west, originY = b.north,
      resX = res, resY = res, striped = true)
    val (_, _, _, tiled) = CogReader.tile(p1, cover)
    val (_, _, _, striped) = CogReader.tile(p2, cover)
    val (_, _, _, stripedRaw) = CogReader.tile(p3, cover)
    assert(striped.sameElements(tiled))
    assert(stripedRaw.sameElements(tiled))
  }

  test("big-endian (MM) TIFFs read identically: raw, deflate+predictor, uint16") {
    val cover = TileKey(10, 300, 400)
    val ref = tmp("le-ref.tif")
    writeGradient(ref, cover, deflate = false)
    val (_, _, _, a) = CogReader.tile(ref, cover)
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / 512
    for ((name, bps, pred, defl) <- Seq(
      ("be-raw.tif", 8, 1, false),
      ("be-defl-pred.tif", 8, 2, true),
      ("be-u16.tif", 16, 1, false))) {
      val p = tmp(name)
      val levels =
        if (bps == 16) Seq(TiffWriter.Level(512, 512, (x, y) => ((x % 256) * 257, (y % 256) * 257, 7 * 257)))
        else gradientLevels
      TiffWriter.write(p, levels, tileSize = 128, originX = b.west, originY = b.north,
        resX = res, resY = res, bigendian = true, bps = bps, predictor = pred, deflate = defl)
      val (_, _, _, got) = CogReader.tile(p, cover)
      assert(got.sameElements(a), name)
    }
  }

  test("single-band (grayscale) COG: masks/DEM layout reads with bands=1") {
    val cover = TileKey(10, 300, 400)
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / 512
    val levels = Seq(TiffWriter.Level(512, 512, (x, y) => ((x + y) % 256, 0, 0)))
    for ((opts, name) <- Seq(
      ((false, false, 1), "gray.tif"), // raw
      ((true, false, 1), "graylzwp.tif"), // lzw + predictor
      ((false, true, 1), "graydef.tif"))) { // deflate
      val p = tmp(name)
      TiffWriter.write(p, levels, tileSize = 128, originX = b.west, originY = b.north,
        resX = res, resY = res, samplesPerPixel = 1,
        lzw = opts._1, predictor = if (opts._1) 2 else 1, deflate = opts._2)
      val (h, w, bands, data) = CogReader.tile(p, cover)
      assert(h == 256 && w == 256 && bands == 1, s"$name shape")
      // out pixel (px,py) samples raster (2px+1, 2py+1)
      val px = 33
      val py = 47
      assert((data(py * 256 + px) & 0xff) == ((2 * px + 1) + (2 * py + 1)) % 256, name)
    }
  }

  test("dispatch routes .tif to the COG source") {
    assert(TileSources.dispatch("/data/img.tif") == TileSources.CogSource)
    assert(TileSources.dispatch("https://x/y.TIFF?a=1") == TileSources.CogSource)
    assert(TileSources.dispatch("https://x/{z}/{x}/{y}.png") == TileSources.TmsSource)
    assert(TileSources.dispatch("https://x/wms?bbox={bbox}") == TileSources.WmsSource)
  }

  test("content probe dispatches a suffix-less COG URL to the COG source") {
    val cover = TileKey(10, 300, 400)
    val p = tmp("probe.tif")
    writeCovering(p, cover, 512, deflate = true)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0),
      2 * TileSources.FetchWindow)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body: Array[Byte] = ex.getRequestURI.getPath match {
        case "/signed-imagery" => // COG behind an extension-less signed URL
          val range = Option(ex.getRequestHeaders.getFirst("Range"))
          range match {
            case Some(r) =>
              val Array(a, b) = r.stripPrefix("bytes=").split("-").map(_.toLong)
              val hi = math.min(b, bytes.length - 1)
              val slice = java.util.Arrays.copyOfRange(bytes, a.toInt, hi.toInt + 1)
              ex.sendResponseHeaders(206, slice.length.toLong)
              slice
            case None =>
              ex.sendResponseHeaders(200, bytes.length.toLong)
              bytes
          }
        case _ => // a PNG endpoint, also extension-less
          val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
          ex.sendResponseHeaders(200, png.length.toLong)
          png
      }
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      // extension regex says TMS; the magic-byte probe corrects it
      assert(TileSources.dispatch(s"$base/signed-imagery?sig=abc") == TileSources.TmsSource)
      assert(TileSources.dispatch(s"$base/signed-imagery?sig=abc", probeContent = true) == TileSources.CogSource)
      assert(TileSources.dispatch(s"$base/png-endpoint", probeContent = true) == TileSources.TmsSource)
      // unreachable host: probe degrades to the extension answer, no throw
      assert(TileSources.dispatch("http://localhost:1/none", probeContent = true) == TileSources.TmsSource)
      // and the probed COG actually reads end-to-end through images()
      val (_, _, _, viaProbe) = CogReader.tile(s"$base/signed-imagery?sig=abc", cover)
      val (_, _, _, viaFile) = CogReader.tile(p, cover)
      assert(viaProbe.sameElements(viaFile))
    } finally server.stop(0)
  }

  /** A single-band float32 "DEM" covering `cover`: value = x + y / 1000. */
  private def writeFloatDem(path: String, cover: TileKey, size: Int,
      deflate: Boolean = false, bigendian: Boolean = false,
      predictor: Int = 1, zstd: Boolean = false): Unit = {
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / size
    val demBits = (x: Int, y: Int) =>
      (java.lang.Float.floatToIntBits(x + y / 1000.0f), 0, 0)
    TiffWriter.write(path, Seq(TiffWriter.Level(size, size, demBits)),
      tileSize = 128, originX = b.west, originY = b.north, resX = res, resY = res,
      deflate = deflate, bps = 32, sampleFormat = 3, samplesPerPixel = 1,
      bigendian = bigendian, predictor = predictor, zstd = zstd)
  }

  test("float32 DEM: tileFloat reads exact elevations, uint8 tile() refuses") {
    val cover = TileKey(10, 300, 400)
    val p = tmp("dem.tif")
    writeFloatDem(p, cover, size = 512)
    val (w, h, bands, data) = CogReader.tileFloat(p, cover)
    assert(w == 256 && h == 256 && bands == 1)
    // out pixel (px,py) samples raster (2*px+1, 2*py+1), exact IEEE value
    val px = 10; val py = 20
    assert(data(py * 256 + px) == (2 * px + 1) + (2 * py + 1) / 1000.0f)
    assert(data(0) == 1 + 1 / 1000.0f)
    // the uint8 path must refuse a float raster, not misread its bytes
    val e = intercept[java.io.IOException](CogReader.tile(p, cover))
    assert(e.getMessage.contains("SampleFormat"))
  }

  test("float32 DEM: deflate and big-endian variants decode identically") {
    val cover = TileKey(10, 300, 400)
    val p1 = tmp("dem_raw.tif"); val p2 = tmp("dem_zip.tif"); val p3 = tmp("dem_be.tif")
    writeFloatDem(p1, cover, 512)
    writeFloatDem(p2, cover, 512, deflate = true)
    writeFloatDem(p3, cover, 512, bigendian = true)
    val (_, _, _, a) = CogReader.tileFloat(p1, cover)
    val (_, _, _, b) = CogReader.tileFloat(p2, cover)
    val (_, _, _, c) = CogReader.tileFloat(p3, cover)
    assert(a.sameElements(b) && a.sameElements(c))
  }

  test("float32 DEM: predictor 3 (raw/deflate/zstd/big-endian) decodes identically to predictor 1") {
    val cover = TileKey(10, 300, 400)
    val p0 = tmp("dem_p1.tif")
    writeFloatDem(p0, cover, 512)
    val (_, _, _, want) = CogReader.tileFloat(p0, cover)
    for ((name, write) <- Seq[(String, String => Unit)](
      ("raw", p => writeFloatDem(p, cover, 512, predictor = 3)),
      ("deflate", p => writeFloatDem(p, cover, 512, deflate = true, predictor = 3)),
      ("zstd", p => writeFloatDem(p, cover, 512, zstd = true, predictor = 3)),
      ("be", p => writeFloatDem(p, cover, 512, bigendian = true, predictor = 3)))) {
      val p = tmp(s"dem_p3_$name.tif")
      write(p)
      val (_, _, _, got) = CogReader.tileFloat(p, cover)
      assert(got.sameElements(want), s"variant $name")
    }
  }

  test("float32 DEM: integer predictor 2 is refused (float needs predictor 1 or 3)") {
    val cover = TileKey(10, 300, 400)
    // TiffWriter refuses to create float+predictor-2; write predictor 3 and
    // patch its tag value (tag 317 = 0x013d, type SHORT=3, LE inline value)
    val p = tmp("dem_p2_patched.tif")
    writeFloatDem(p, cover, 256, predictor = 3)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    var i = 0
    var patched = false
    while (i < bytes.length - 12 && !patched) {
      if ((bytes(i) & 0xff) == 0x3d && (bytes(i + 1) & 0xff) == 0x01 &&
        (bytes(i + 2) & 0xff) == 3 && (bytes(i + 8) & 0xff) == 3) {
        bytes(i + 8) = 2; patched = true
      }
      i += 1
    }
    assert(patched, "could not locate predictor tag to patch")
    java.nio.file.Files.write(java.nio.file.Paths.get(p), bytes)
    val e = intercept[java.io.IOException](CogReader.tileFloat(p, cover))
    assert(e.getMessage.contains("predictor"))
  }

  test("float32 DEM: pixels outside the raster are NaN, not 0 (0 is a valid elevation)") {
    val cover = TileKey(10, 300, 400)
    val p = tmp("dem_pad.tif")
    // raster covers only the NW child -> the parent window's other
    // quadrants fall outside
    val child = TileKey(11, 600, 800)
    writeFloatDem(p, child, 256)
    val (_, _, _, data) = CogReader.tileFloat(p, cover)
    assert(!data(0).isNaN) // NW corner: inside
    assert(data(255 * 256 + 255).isNaN) // SE corner: outside the raster
  }

  test("signed-int SampleFormat is refused rather than misread") {
    val cover = TileKey(10, 300, 400)
    val p = tmp("signed.tif")
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / 256
    TiffWriter.write(p, Seq(TiffWriter.Level(256, 256, (x, y) => (x % 256, 0, 0))),
      tileSize = 128, originX = b.west, originY = b.north, resX = res, resY = res,
      samplesPerPixel = 1, sampleFormat = 2)
    val e = intercept[java.io.IOException](CogReader.tile(p, cover))
    assert(e.getMessage.contains("SampleFormat"))
  }

  // --- WebP (compression 50001) ---

  /** Fixture blob + its libwebp ground-truth RGB bytes. */
  private def webpFixture(name: String): (Array[Byte], Array[Byte]) = {
    def res(n: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/webp/$n")
      require(in != null, s"missing fixture $n")
      try in.readAllBytes() finally in.close()
    }
    val blob = res(s"$name.webp")
    val e = res(s"$name.expect")
    def le32(o: Int): Int =
      (e(o) & 0xff) | ((e(o + 1) & 0xff) << 8) | ((e(o + 2) & 0xff) << 16) | ((e(o + 3) & 0xff) << 24)
    require(le32(0) == 64 && le32(4) == 64 && le32(8) == 3,
      "quad helper wants 64x64 RGB fixtures")
    (blob, e.drop(12))
  }

  test("WebP lossless tiles (50001) decode identically to raw") {
    val cover = TileKey(10, 300, 400)
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / 128
    val names = Seq("gradient_64x64_rgb", "gray_64x64_rgb",
      "gray_64x64_rgb", "gradient_64x64_rgb")
    val parts = names.map(webpFixture)
    def pixel(x: Int, y: Int): (Int, Int, Int) = {
      val px = parts((y / 64) * 2 + (x / 64))._2
      val o = ((y % 64) * 64 + (x % 64)) * 3
      (px(o) & 0xff, px(o + 1) & 0xff, px(o + 2) & 0xff)
    }
    val pW = tmp("webp_rgb.tif")
    val pRaw = tmp("webp_raw.tif")
    TiffWriter.write(pW, Seq(TiffWriter.Level(128, 128, pixel)), tileSize = 64,
      originX = b.west, originY = b.north, resX = res, resY = res,
      webpTiles = Some(parts.map(_._1)))
    TiffWriter.write(pRaw, Seq(TiffWriter.Level(128, 128, pixel)), tileSize = 64,
      originX = b.west, originY = b.north, resX = res, resY = res)
    val (_, _, bands, a) = CogReader.tile(pW, cover)
    val (_, _, _, c) = CogReader.tile(pRaw, cover)
    assert(bands == 3)
    assert(a.sameElements(c))
  }

  test("lossy WebP (VP8) tiles are refused by name") {
    val cover = TileKey(10, 300, 400)
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / 64
    // minimal RIFF container with a lossy VP8 chunk tag as the tile blob
    val lossy = java.nio.ByteBuffer.allocate(30).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    lossy.put("RIFF".getBytes); lossy.putInt(22); lossy.put("WEBP".getBytes)
    lossy.put("VP8 ".getBytes); lossy.putInt(10); lossy.put(new Array[Byte](10))
    val p = tmp("webp_lossy.tif")
    TiffWriter.write(p, Seq(TiffWriter.Level(64, 64, (_, _) => (0, 0, 0))),
      tileSize = 64, originX = b.west, originY = b.north, resX = res, resY = res,
      webpTiles = Some(Seq(lossy.array())))
    val e = intercept[java.io.IOException](CogReader.tile(p, cover))
    assert(e.getMessage.contains("lossy") && e.getMessage.contains("VP8L"))
  }

  // ---- non-3857 CRS warp reads ----

  /** z10 tile over lon ~15.1E, lat ~50.1N — inside UTM zone 33N. */
  private val warpTile = TileKey(10, 554, 347)

  /** geographic bbox of warpTile, via the exact 3857 inverse. */
  private def warpLonLat: (Double, Double, Double, Double) = {
    val merc = Proj.crs("3857").get
    val b = Tiles.tileBounds3857(warpTile)
    val (lonW, latS) = merc.inverse(b.west, b.south)
    val (lonE, latN) = merc.inverse(b.east, b.north)
    (lonW, latS, lonE, latN)
  }

  /** The shared world scene, defined in geography so every CRS renders
    * the same thing: red = lon ramp, green = lat ramp across warpTile. */
  private def worldRgb(lon: Double, lat: Double): (Int, Int, Int) = {
    val (lonW, latS, lonE, latN) = warpLonLat
    def clamp(v: Double) = math.max(0, math.min(255, v.toInt))
    (clamp((lon - lonW) / (lonE - lonW) * 255),
      clamp((lat - latS) / (latN - latS) * 255), 7)
  }

  /** Write the world scene as a `size`² COG in `epsg`, padded ~10% past
    * the tile so warped edge pixels stay inside the raster. */
  private def writeWorldCog(path: String, epsg: Int, size: Int): Unit = {
    val crs = Proj.crs(epsg.toString).get
    val (lonW, latS, lonE, latN) = warpLonLat
    val padLon = (lonE - lonW) * 0.1
    val padLat = (latN - latS) * 0.1
    val (minX, minY, maxX, maxY) = Proj.transformBounds(crs.forward _,
      lonW - padLon, latS - padLat, lonE + padLon, latN + padLat)
    val res = math.max(maxX - minX, maxY - minY) / size
    TiffWriter.write(path, Seq(TiffWriter.Level(size, size, (x, y) => {
      val (lon, lat) = crs.inverse(minX + (x + 0.5) * res, maxY - (y + 0.5) * res)
      worldRgb(lon, lat)
    })), tileSize = 128, originX = minX, originY = maxY, resX = res, resY = res,
      deflate = true, epsg = Some(epsg))
  }

  test("UTM 33N COG warps onto the 3857 tile grid (same scene as a native-3857 COG)") {
    val p3857 = tmp("world_3857.tif")
    val pUtm = tmp("world_utm33.tif")
    writeWorldCog(p3857, 3857, 640)
    writeWorldCog(pUtm, 32633, 640)
    val (_, _, _, a) = CogReader.tile(p3857, warpTile)
    val (_, _, _, b) = CogReader.tile(pUtm, warpTile)
    // nearest-neighbor resample from two differently-gridded sources of
    // the same smooth scene: small per-pixel error, tiny mean error
    var sumDiff = 0L
    var maxDiff = 0
    var i = 0
    while (i < a.length) {
      val d = math.abs((a(i) & 0xff) - (b(i) & 0xff))
      sumDiff += d
      maxDiff = math.max(maxDiff, d)
      i += 1
    }
    assert(maxDiff <= 4, s"max per-pixel diff $maxDiff")
    assert(sumDiff.toDouble / a.length < 1.0, s"mean diff ${sumDiff.toDouble / a.length}")
    // and the scene is the expected ramp, not just self-consistent: red
    // increases left->right, green decreases top->bottom (lat ramp)
    assert((b((128 * 256 + 250) * 3) & 0xff) > (b((128 * 256 + 5) * 3) & 0xff) + 200)
    assert((b((5 * 256 + 128) * 3 + 1) & 0xff) > (b((250 * 256 + 128) * 3 + 1) & 0xff) + 200)
  }

  test("EPSG:4326 geographic COG warps onto the 3857 tile grid") {
    val p3857 = tmp("world2_3857.tif")
    val pGeo = tmp("world_4326.tif")
    writeWorldCog(p3857, 3857, 640)
    writeWorldCog(pGeo, 4326, 640)
    val (_, _, _, a) = CogReader.tile(p3857, warpTile)
    val (_, _, _, b) = CogReader.tile(pGeo, warpTile)
    var sumDiff = 0L
    var maxDiff = 0
    var i = 0
    while (i < a.length) {
      val d = math.abs((a(i) & 0xff) - (b(i) & 0xff))
      sumDiff += d
      maxDiff = math.max(maxDiff, d)
      i += 1
    }
    assert(maxDiff <= 4, s"max per-pixel diff $maxDiff")
    assert(sumDiff.toDouble / a.length < 1.0, s"mean diff ${sumDiff.toDouble / a.length}")
  }

  test("an explicit 3857 GeoKey reads byte-identically to a GeoKey-less COG") {
    val cover = TileKey(10, 300, 400)
    val p1 = tmp("nogk.tif")
    val p2 = tmp("gk3857.tif")
    writeGradient(p1, cover)
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / 512
    TiffWriter.write(p2, gradientLevels, tileSize = 128, originX = b.west,
      originY = b.north, resX = res, resY = res, deflate = true, epsg = Some(3857))
    val (_, _, _, a) = CogReader.tile(p1, cover)
    val (_, _, _, c) = CogReader.tile(p2, cover)
    assert(a.sameElements(c))
  }

  test("float DEM in UTM warps: elevations match the native-3857 DEM") {
    // world elevation = lon*1000 + lat (smooth, CRS-independent)
    val (lonW, latS, lonE, latN) = warpLonLat
    def writeDem(path: String, epsg: Int): Unit = {
      val crs = Proj.crs(epsg.toString).get
      val padLon = (lonE - lonW) * 0.1
      val padLat = (latN - latS) * 0.1
      val (minX, minY, maxX, maxY) = Proj.transformBounds(crs.forward _,
        lonW - padLon, latS - padLat, lonE + padLon, latN + padLat)
      val res = math.max(maxX - minX, maxY - minY) / 640
      TiffWriter.write(path, Seq(TiffWriter.Level(640, 640, (x, y) => {
        val (lon, lat) = crs.inverse(minX + (x + 0.5) * res, maxY - (y + 0.5) * res)
        (java.lang.Float.floatToIntBits((lon * 1000 + lat).toFloat), 0, 0)
      })), tileSize = 128, originX = minX, originY = maxY, resX = res, resY = res,
        bps = 32, sampleFormat = 3, samplesPerPixel = 1, epsg = Some(epsg))
    }
    val pa = tmp("dem_3857w.tif")
    val pb = tmp("dem_utm33.tif")
    writeDem(pa, 3857)
    writeDem(pb, 32633)
    val (_, _, _, a) = CogReader.tileFloat(pa, warpTile)
    val (_, _, _, b) = CogReader.tileFloat(pb, warpTile)
    var maxDiff = 0.0
    var i = 0
    while (i < a.length) {
      assert(!a(i).isNaN && !b(i).isNaN, s"NaN at $i")
      maxDiff = math.max(maxDiff, math.abs(a(i) - b(i)))
      i += 1
    }
    // one source pixel ≈ 0.0006° of lon ≈ 0.6 elevation units
    assert(maxDiff < 2.0, s"max elevation diff $maxDiff")
  }

  test("GDAL_NODATA (tag 42113): nodata samples read as NaN, others untouched") {
    val cover = TileKey(10, 300, 400)
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / 256
    // checkerboard of -9999 (nodata) and a real elevation 123.5
    def px(x: Int, y: Int): (Int, Int, Int) = {
      val v = if ((x + y) % 2 == 0) -9999.0f else 123.5f
      (java.lang.Float.floatToIntBits(v), 0, 0)
    }
    val p1 = tmp("dem_nodata.tif")
    val p2 = tmp("dem_nond.tif")
    TiffWriter.write(p1, Seq(TiffWriter.Level(256, 256, px)), tileSize = 128,
      originX = b.west, originY = b.north, resX = res, resY = res,
      bps = 32, sampleFormat = 3, samplesPerPixel = 1, nodata = Some(-9999.0))
    TiffWriter.write(p2, Seq(TiffWriter.Level(256, 256, px)), tileSize = 128,
      originX = b.west, originY = b.north, resX = res, resY = res,
      bps = 32, sampleFormat = 3, samplesPerPixel = 1)
    val (_, _, _, masked) = CogReader.tileFloat(p1, cover)
    val (_, _, _, unmasked) = CogReader.tileFloat(p2, cover)
    var nan = 0
    var real = 0
    var i = 0
    while (i < masked.length) {
      if (masked(i).isNaN) nan += 1
      else { assert(masked(i) == 123.5f, s"at $i: ${masked(i)}"); real += 1 }
      i += 1
    }
    assert(nan > 30000 && real > 30000, s"checkerboard: $nan NaN / $real real")
    // without the tag, -9999 reads back as the literal value
    assert(unmasked.count(_ == -9999.0f) > 30000)
    assert(!unmasked.exists(_.isNaN))
  }

  // ---- uint8 / float32 parity: one window read, two sample types ----

  /** A single-band uint8 COG and a float32 COG with equal samples: full
    * resolution `size`² (plus a `size / 2` overview) from `origin` at
    * `res` in `epsg`. Returns (uint8 path, float32 path). */
  private def writeTwins(name: String, size: Int, originX: Double,
      originY: Double, res: Double, epsg: Option[Int]): (String, String) = {
    // neighbouring pixels differ, so a read that picks another source
    // pixel reads another value; the overview has its own pattern
    val full = (x: Int, y: Int) => (x * 31 + y * 17) % 251
    val half = (x: Int, y: Int) => (x * 7 + y * 29 + 3) % 253
    def write(path: String, sample: Int => Int, bps: Int, format: Int): Unit =
      TiffWriter.write(path, Seq(
        TiffWriter.Level(size, size, (x, y) => (sample(full(x, y)), 0, 0)),
        TiffWriter.Level(size / 2, size / 2, (x, y) => (sample(half(x, y)), 0, 0))),
        tileSize = 128, originX = originX, originY = originY, resX = res,
        resY = res, deflate = true, bps = bps, sampleFormat = format,
        samplesPerPixel = 1, epsg = epsg)
    val pU8 = tmp(s"${name}_u8.tif")
    val pF32 = tmp(s"${name}_f32.tif")
    write(pU8, identity, 8, 1)
    write(pF32, v => java.lang.Float.floatToIntBits(v.toFloat), 32, 3)
    (pU8, pF32)
  }

  /** Reads `t` through both entry points; asserts equal samples inside the
    * raster, 0 and NaN outside. Returns (inside, outside) pixel counts. */
  private def assertParity(u8: String, f32: String, t: TileKey): (Int, Int) = {
    val (w, h, ub, u) = CogReader.tile(u8, t)
    val (fw, fh, fb, f) = CogReader.tileFloat(f32, t)
    assert((w, h, ub) == (fw, fh, fb) && (w, h, ub) == (256, 256, 1))
    var inside = 0
    var i = 0
    while (i < u.length) {
      if (f(i).isNaN) assert(u(i) == 0, s"pixel $i: outside, uint8 ${u(i) & 0xff}")
      else {
        assert((u(i) & 0xff).toFloat == f(i), s"pixel $i: uint8 ${u(i) & 0xff} vs float ${f(i)}")
        inside += 1
      }
      i += 1
    }
    (inside, u.length - inside)
  }

  test("tile and tileFloat read the same source pixels: native, overview, " +
      "partly outside, warped") {
    val cover = TileKey(10, 300, 400)
    val b = Tiles.tileBounds3857(cover)
    val (u8, f32) = writeTwins("parity", 512, b.west, b.north,
      (b.east - b.west) / 512, None)
    // native 3857 at full resolution: the NE child of the covered tile
    assert(assertParity(u8, f32, TileKey(11, 601, 800)) == (65536, 0))
    // the covered tile itself reads the 256² overview pixel for pixel
    assert(assertParity(u8, f32, cover) == (65536, 0))
    val (_, _, _, ov) = CogReader.tileFloat(f32, cover)
    assert(ov(20 * 256 + 10) == (10 * 7 + 20 * 29 + 3) % 253)
    // the parent tile: the overview again, three quadrants outside
    assert(assertParity(u8, f32, TileKey(9, 150, 200)) == (128 * 128, 65536 - 128 * 128))

    // UTM 33N, warped per pixel onto the 3857 grid, padded past the tile
    val crs = Proj.crs("32633").get
    val (lonW, latS, lonE, latN) = warpLonLat
    val padLon = (lonE - lonW) * 0.1
    val padLat = (latN - latS) * 0.1
    val (minX, minY, maxX, maxY) = Proj.transformBounds(crs.forward _,
      lonW - padLon, latS - padLat, lonE + padLon, latN + padLat)
    val (wu8, wf32) = writeTwins("parity_utm", 640, minX, maxY,
      math.max(maxX - minX, maxY - minY) / 640, Some(32633))
    assert(assertParity(wu8, wf32, warpTile) == (65536, 0))
  }

  test("an unsupported GeoKey CRS is refused rather than misplaced") {
    // Self-healing fixture: pick the first candidate code NOT in the Proj
    // table, so the refusal path stays covered as the table grows (round 5
    // added 2193/NZTM and stalled the old hard-coded fixture). All four are
    // Lambert-conformal-conic / polyconic CRSs with no kernel here.
    val candidates = Seq(31370, 2154, 5880, 27572)
    val code = candidates.find(c => graft.core.Proj.crs(c.toString).isEmpty)
      .getOrElse(fail("every candidate CRS is now in the Proj table — " +
        "extend the candidate list with a still-unsupported code"))
    val cover = TileKey(10, 300, 400)
    val p = tmp("unsupported_crs.tif")
    val b = Tiles.tileBounds3857(cover)
    val res = (b.east - b.west) / 256
    TiffWriter.write(p, Seq(TiffWriter.Level(256, 256, (x, y) => (1, 2, 3))),
      tileSize = 128, originX = b.west, originY = b.north, resX = res, resY = res,
      epsg = Some(code))
    val e = intercept[java.io.IOException](CogReader.tile(p, cover))
    assert(e.getMessage.contains(s"EPSG:$code"))
  }
}
