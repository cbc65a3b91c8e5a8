package graft.sources

import graft.core.{TileKey, Tiles}

/** S5 — Cloud-Optimized GeoTIFF windowed reads (SURVEY §2.1, replacing
  * `get_tile_tif` / rio-tiler's `COGReader.tile`, `utils.py:55-62`).
  *
  * Implemented from the public TIFF 6.0 + GeoTIFF specs:
  *  - little/big-endian classic TIFF, multiple IFDs (full image + overviews)
  *  - tiled layout (TileWidth/TileLength/TileOffsets/TileByteCounts)
  *  - compression: none (1), LZW (5, native early-change decoder) and
  *    DEFLATE (8 / 32946, via java.util.zip)
  *  - georeferencing: ModelPixelScale + ModelTiepoint; the CRS comes from
  *    the GeoKey directory (tag 34735, ProjectedCSTypeGeoKey /
  *    GeographicTypeGeoKey). Web-mercator (3857/900913, or no GeoKeys)
  *    reads directly; any other EPSG code in [[graft.core.Proj]]'s table
  *    (4326, 3395, UTM, 27700, LCC, Albers, polar stereo) is warped
  *    per-pixel to the 3857 tile grid (inverse-mercator -> forward-native
  *    nearest-neighbor, the rio-tiler/WarpedVRT behavior); unknown codes
  *    throw
  *  - COG access pattern: header + IFD parse from one bounded read, then
  *    RANGE reads of only the tiles intersecting the window
  *  - overview selection: the coarsest IFD whose resolution is at or
  *    below the target (else full resolution), then nearest-neighbor
  *    resample to 256x256; uint8 ([[tile]]) and float32 ([[tileFloat]])
  *    reads share this one window read and differ only in the sample
  *    conversion and the fill outside the raster
  *
  *  - BigTIFF (version 43, 8-byte offsets) — the layout GDAL emits for
  *    rasters past 4 GiB, i.e. the normal case at 100 TB imagery scale
  *  - JPEG-in-TIFF tiles (compression 7): abbreviated per-tile streams
  *    merged with the shared JPEGTables (tag 347) and decoded via the
  *    JDK's ImageIO — no native deps
  *
  *  - striped layout (StripOffsets/RowsPerStrip): each strip modeled as a
  *    full-width tile, so legacy non-COG GeoTIFFs read too
  *
  *  - Predictor tag 317: horizontal differencing (2) is reversed for 8-
  *    and 16-bit samples; the TechNote-3 floating-point predictor (3) for
  *    float32 samples; other predictor values throw instead of silently
  *    decoding corrupted pixels
  *  - ZSTD tiles (GDAL compression 50000) via the zstd-jni Spark ships
  *  - uint16 samples (BitsPerSample 16): decoded then downconverted to the
  *    engine's uint8 tile contract by taking the high byte (v >> 8 — the
  *    same linear 16->8 window GDAL's default Byte translation applies)
  *  - PlanarConfiguration 2: per-plane tiles (plane-major order per the
  *    TIFF 6.0 spec) are read and interleaved to the chunky layout
  *
  */
object CogReader {

  /** Byte source abstraction: COGs need positioned range reads. */
  trait RangeReader extends java.io.Closeable {
    def read(offset: Long, length: Int): Array[Byte]
    def close(): Unit = ()
  }

  final class FileRangeReader(path: String) extends RangeReader {
    private val raf = new java.io.RandomAccessFile(path, "r")
    def read(offset: Long, length: Int): Array[Byte] = {
      val n = math.min(length.toLong, raf.length() - offset).toInt
      val buf = new Array[Byte](math.max(0, n))
      raf.seek(offset)
      raf.readFully(buf)
      buf
    }
    override def close(): Unit = raf.close()
  }

  final class HttpRangeReader(url: String) extends RangeReader {
    def read(offset: Long, length: Int): Array[Byte] = {
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .header("Range", s"bytes=$offset-${offset + length - 1}")
        .timeout(java.time.Duration.ofSeconds(30)).GET().build()
      // one pooled client per JVM, shared with the TMS/WMS fetch path
      val resp = TileSources.client.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      // a 200 means the server ignored Range and sent the whole file —
      // treating that body as the requested slice silently corrupts tiles
      if (resp.statusCode() != 206)
        throw new java.io.IOException(
          s"expected 206 Partial Content for range read, got ${resp.statusCode()} ($url)")
      resp.body()
    }
  }

  def readerFor(path: String): RangeReader =
    if (path.startsWith("http://") || path.startsWith("https://")) new HttpRangeReader(path)
    else new FileRangeReader(path.stripPrefix("file://"))

  // ---- TIFF structures ----

  final case class Ifd(
      width: Int, height: Int,
      tileWidth: Int, tileHeight: Int,
      samplesPerPixel: Int, bitsPerSample: Int, compression: Int,
      tileOffsets: Array[Long], tileByteCounts: Array[Long],
      pixelScale: Option[(Double, Double)], // (sx, sy)
      tiepoint: Option[(Double, Double)], // model x,y of raster (0,0)
      jpegTables: Option[Array[Byte]] = None, // tag 347, shared JPEG tables
      predictor: Int = 1, // tag 317 (1 = none, 2 = horizontal differencing)
      planarConfig: Int = 1, // tag 284 (1 = chunky, 2 = per-plane tiles)
      littleEndian: Boolean = true, // file byte order (for 16-bit samples)
      striped: Boolean = false, // strips modeled as tiles; last one may be SHORT
      sampleFormat: Int = 1, // tag 339 (1 = unsigned, 2 = signed, 3 = IEEE float)
      epsg: Option[Int] = None, // GeoKey 3072 (projected) or 2048 (geographic)
      nodata: Option[Double] = None, // tag 42113 GDAL_NODATA (ASCII)
      lercAddCompression: Int = 0) // tag 50674 [1]: 0 none, 1 deflate, 2 zstd

  private final class TiffBuf(bytes: Array[Byte]) {
    var le: Boolean = true
    def u16(o: Int): Int =
      if (le) (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
      else ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
    def u32(o: Int): Long = {
      val v =
        if (le) (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) | ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
        else ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) | ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
      v
    }
    def u64(o: Int): Long = {
      var v = 0L
      if (le) { var i = 7; while (i >= 0) { v = (v << 8) | (bytes(o + i) & 0xffL); i -= 1 } }
      else { var i = 0; while (i < 8) { v = (v << 8) | (bytes(o + i) & 0xffL); i += 1 } }
      v
    }
    def f64(o: Int): Double = java.lang.Double.longBitsToDouble(u64(o))
    def slice(o: Int, n: Int): Array[Byte] = java.util.Arrays.copyOfRange(bytes, o, o + n)
    def length: Int = bytes.length
  }

  /** Parse all IFDs. COGs keep header+IFDs in the first few KiB, so the
    * common case is one bounded head read; IFDs beyond the prefetched head
    * (legal TIFF, e.g. written trailing the data) fall back to targeted
    * range reads per IFD. */
  def parseIfds(reader: RangeReader, headSize: Int = 1 << 16): Seq[Ifd] = {
    val head = reader.read(0, headSize)
    val hb = new TiffBuf(head)
    hb.le = (head(0) == 'I'.toByte)
    require((head(0) == 'I'.toByte && head(1) == 'I'.toByte) ||
      (head(0) == 'M'.toByte && head(1) == 'M'.toByte), "not a TIFF")
    val version = hb.u16(2)
    // 42 = classic (4-byte offsets), 43 = BigTIFF (8-byte offsets)
    val big = version == 43
    require(version == 42 || big, s"not a TIFF (version $version)")
    if (big)
      require(hb.u16(4) == 8 && hb.u16(6) == 0,
        s"unsupported BigTIFF offset size ${hb.u16(4)}")
    // layout constants that differ between the two formats
    val entrySize = if (big) 20 else 12 // tag(2) type(2) count(4|8) value(4|8)
    val countSize = if (big) 8 else 2 // IFD entry-count field
    val inlineMax = if (big) 8 else 4 // value fits in the entry itself
    // window cache: serve absolute-offset reads from the head when
    // possible, else fetch a dedicated window
    def window(off: Long, len: Int): (TiffBuf, Int) =
      if (off + len <= head.length) (hb, off.toInt)
      else {
        val buf = new TiffBuf(reader.read(off, len))
        buf.le = hb.le
        (buf, 0)
      }
    def offAt(b: TiffBuf, o: Int): Long = if (big) b.u64(o) else b.u32(o)
    def countAtEntry(b: TiffBuf, e: Int): Long = if (big) b.u64(e + 4) else b.u32(e + 4)
    val ifds = scala.collection.mutable.ArrayBuffer[Ifd]()
    var off = if (big) hb.u64(8) else hb.u32(4)
    while (off != 0) {
      val n = { val (b, o) = window(off, countSize); (if (big) b.u64(o) else b.u16(o).toLong).toInt }
      // materialize this IFD's entry table in one window
      val (b, base) = window(off, countSize + n * entrySize + (if (big) 8 else 4))
      def entryOff(i: Int): Int = base + countSize + i * entrySize
      var width = 0
      var height = 0
      var tw = 0
      var th = 0
      var spp = 1
      var bps = 8
      var comp = 1
      var tileOffsets = Array.empty[Long]
      var tileCounts = Array.empty[Long]
      var scale: Option[(Double, Double)] = None
      var tie: Option[(Double, Double)] = None
      var jpegTables: Option[Array[Byte]] = None
      var rowsPerStrip = 0
      var stripOffsets = Array.empty[Long]
      var stripCounts = Array.empty[Long]
      var predictor = 1
      var planarConfig = 1
      var sampleFormat = 1
      var geoKeys = Array.empty[Long]
      var nodata: Option[Double] = None
      var lercAdd = 0
      var i = 0
      while (i < n) {
        val e = entryOff(i)
        val tag = b.u16(e)
        val typ = b.u16(e + 2)
        val count = countAtEntry(b, e).toInt
        val typeSize = typ match {
          case 1 | 2 | 6 | 7 => 1
          case 3 => 2
          case 4 | 9 | 11 => 4
          case 5 | 10 | 12 => 8
          case 16 | 17 | 18 => 8 // BigTIFF LONG8 / SLONG8 / IFD8
          case _ => 1
        }
        val valueField = e + (if (big) 12 else 8)
        val inline = typeSize * count <= inlineMax
        // (buf, local offset) where the value bytes live
        val (vb, vo) =
          if (inline) (b, valueField)
          else window(offAt(b, valueField), typeSize * count)
        def intAt(j: Int): Long = typ match {
          case 3 => vb.u16(vo + 2 * j).toLong
          case 16 | 17 | 18 => vb.u64(vo + 8 * j)
          case _ => vb.u32(vo + 4 * j)
        }
        def longs: Array[Long] = Array.tabulate(count)(intAt)
        tag match {
          case 256 => width = intAt(0).toInt
          case 257 => height = intAt(0).toInt
          case 258 => bps = intAt(0).toInt
          case 259 => comp = intAt(0).toInt
          case 277 => spp = intAt(0).toInt
          case 273 => stripOffsets = longs
          case 278 => rowsPerStrip = intAt(0).toInt
          case 279 => stripCounts = longs
          case 284 => planarConfig = intAt(0).toInt
          case 317 => predictor = intAt(0).toInt
          case 322 => tw = intAt(0).toInt
          case 323 => th = intAt(0).toInt
          case 324 => tileOffsets = longs
          case 325 => tileCounts = longs
          case 339 => sampleFormat = intAt(0).toInt
          case 347 => jpegTables = Some(vb.slice(vo, count))
          case 42113 => // GDAL_NODATA: ASCII decimal, NUL-terminated
            nodata = new String(vb.slice(vo, count), "US-ASCII")
              .takeWhile(_ != 0.toChar).trim.toDoubleOption
          case 33550 => scale = Some((vb.f64(vo), vb.f64(vo + 8)))
          case 33922 => // tiepoint: i,j,k, x,y,z
            tie = Some((vb.f64(vo + 24), vb.f64(vo + 32)))
          case 34735 => geoKeys = longs // GeoKeyDirectory (SHORT quadruples)
          case 50674 => // LERC_PARAMETERS: [version, additional compression]
            if (count >= 2) lercAdd = intAt(1).toInt
          case _ =>
        }
        i += 1
      }
      // striped layout (no tile tags): model each strip as a full-width
      // tile — the windowed-read path then works unchanged. RowsPerStrip
      // defaults to "one strip = whole image" per spec.
      val striped = tw == 0 && stripOffsets.nonEmpty
      if (striped) {
        tw = width
        th = if (rowsPerStrip > 0) rowsPerStrip else height
        tileOffsets = stripOffsets
        tileCounts = stripCounts
      }
      // GeoKey directory (GeoTIFF 1.0 §4.2): header quadruple then
      // (KeyID, TIFFTagLocation, Count, Value) entries; location 0 means
      // the value is inline. ProjectedCSTypeGeoKey (3072) wins over
      // GeographicTypeGeoKey (2048); 32767 = user-defined (no EPSG code).
      var epsg: Option[Int] = None
      if (geoKeys.length >= 4) {
        var proj = -1
        var geog = -1
        var k = 0
        val nk = geoKeys(3).toInt
        while (k < nk) {
          val o = 4 + 4 * k
          if (o + 3 < geoKeys.length && geoKeys(o + 1) == 0L) {
            val v = geoKeys(o + 3).toInt
            if (geoKeys(o) == 3072L) proj = v
            else if (geoKeys(o) == 2048L) geog = v
          }
          k += 1
        }
        epsg = if (proj > 0 && proj != 32767) Some(proj)
          else if (geog > 0 && geog != 32767) Some(geog) else None
      }
      ifds += Ifd(width, height, tw, th, spp, bps, comp, tileOffsets, tileCounts,
        scale, tie, jpegTables, predictor, planarConfig, hb.le, striped, sampleFormat,
        epsg, nodata, lercAdd)
      off = offAt(b, base + countSize + n * entrySize)
    }
    ifds.toSeq
  }

  /** TIFF LZW decompression (TIFF 6.0 §13): MSB-first variable-width codes
    * 9..12 bits with the "early change" convention (width grows when the
    * NEXT entry would be 511/1023/2047), ClearCode=256, EOI=257. The
    * GDAL-default COG compression (usually paired with Predictor=2). */
  private[sources] def lzwDecode(data: Array[Byte], expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var outPos = 0
    // dictionary: up to 4096 entries; each entry = (prefix code, last byte)
    val prefix = new Array[Int](4096)
    val last = new Array[Byte](4096)
    val length = new Array[Int](4096)
    var next = 258
    var width = 9
    var bitPos = 0
    val nBits = data.length * 8
    def readCode(): Int = {
      if (bitPos + width > nBits) return 257 // truncated: treat as EOI
      var v = 0
      var i = 0
      while (i < width) {
        val b = data(bitPos >> 3) & 0xff
        v = (v << 1) | ((b >> (7 - (bitPos & 7))) & 1)
        bitPos += 1
        i += 1
      }
      v
    }
    def emit(code: Int): Unit = {
      // write entry bytes (stored in reverse via prefix chain)
      val n = if (code < 256) 1 else length(code)
      var c = code
      var p = outPos + n - 1
      while (c >= 256) {
        if (p < expected) out(p) = last(c)
        p -= 1
        c = prefix(c)
      }
      if (p < expected) out(p) = c.toByte
      outPos += n
    }
    def firstByte(code: Int): Byte = {
      var c = code
      while (c >= 256) c = prefix(c)
      c.toByte
    }
    var prev = -1
    var done = false
    while (!done && outPos < expected) {
      val code = readCode()
      if (code == 257) done = true
      else if (code == 256) { next = 258; width = 9; prev = -1 }
      else {
        if (prev >= 0 && next < 4096) {
          prefix(next) = prev
          last(next) = if (code < next) firstByte(code) else firstByte(prev)
          length(next) = (if (prev < 256) 1 else length(prev)) + 1
          next += 1
        }
        if (code < next || prev < 0) emit(code)
        else emit(next - 1) // the KwKwK case: entry just added
        prev = code
        // early change: grow when the next code to be ADDED hits the limit
        if (next == (1 << width) - 1 && width < 12) width += 1
      }
    }
    if (outPos < expected)
      throw new java.io.IOException(s"truncated LZW tile: $outPos of $expected bytes")
    out
  }

  /** PackBits decompression (TIFF 6.0 §9): n in 0..127 -> copy n+1 literal
    * bytes; n in -127..-1 -> repeat next byte 1-n times; -128 is a no-op.
    * The legacy scanned-GeoTIFF codec. */
  private[sources] def packBitsDecode(data: Array[Byte], expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var i = 0
    var o = 0
    while (i < data.length && o < expected) {
      val n = data(i)
      i += 1
      if (n >= 0) { // literal run of n+1 bytes
        val len = math.min(n + 1, math.min(expected - o, data.length - i))
        System.arraycopy(data, i, out, o, len)
        i += n + 1
        o += len
      } else if (n != -128) { // repeat next byte 1-n times
        if (i < data.length) {
          val b = data(i)
          i += 1
          val len = math.min(1 - n, expected - o)
          java.util.Arrays.fill(out, o, o + len, b)
          o += len
        }
      }
    }
    if (o < expected)
      throw new java.io.IOException(s"truncated PackBits tile: $o of $expected bytes")
    out
  }

  private def inflate(data: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(data)
    val out = new Array[Byte](expected)
    var total = 0
    while (total < expected && !inf.finished()) {
      val n = inf.inflate(out, total, expected - total)
      if (n == 0 && inf.needsInput()) throw new java.io.IOException("truncated deflate tile")
      total += n
    }
    inf.end()
    out
  }

  /** Reverse Predictor=2 (horizontal differencing) in place: each stored
    * sample is the delta to the previous pixel's same-band sample in the
    * row; accumulate left-to-right, mod 2^bits (TIFF 6.0 §14). */
  private def undoPredictor2(data: Array[Byte], tw: Int, rows: Int, spp: Int,
      bytesPer: Int, le: Boolean): Unit = {
    val rowBytes = tw * spp * bytesPer
    var row = 0
    while (row < rows) {
      val ro = row * rowBytes
      if (bytesPer == 1) {
        var i = spp
        while (i < rowBytes) {
          data(ro + i) = (data(ro + i) + data(ro + i - spp)).toByte
          i += 1
        }
      } else { // 16-bit: accumulate in the file's byte order
        val (lo, hi) = if (le) (0, 1) else (1, 0)
        var i = spp * 2
        while (i < rowBytes) {
          val o = ro + i
          val p = o - spp * 2
          val v = (((data(o + lo) & 0xff) | ((data(o + hi) & 0xff) << 8)) +
            ((data(p + lo) & 0xff) | ((data(p + hi) & 0xff) << 8))) & 0xffff
          data(o + lo) = (v & 0xff).toByte
          data(o + hi) = ((v >> 8) & 0xff).toByte
          i += 2
        }
      }
      row += 1
    }
  }

  /** Read one internal tile (or strip) as decoded chunky samples in the
    * file's sample width, tileWidth*rowsInChunk*samplesPerPixel, whatever
    * the on-disk layout: predictor is reversed and planar planes are
    * interleaved. JPEG tiles (8-bit by construction) come back decoded. */
  private def readChunk(reader: RangeReader, ifd: Ifd, tx: Int, ty: Int,
      st: SampleType[_]): Array[Byte] = {
    val tilesAcross = (ifd.width + ifd.tileWidth - 1) / ifd.tileWidth
    val tilesDown = (ifd.height + ifd.tileHeight - 1) / ifd.tileHeight
    val idx = ty * tilesAcross + tx
    val spp = ifd.samplesPerPixel
    // edge TILES are padded to full size per spec; edge STRIPS are not —
    // a short final strip holds only its real rows
    val rowsInChunk =
      if (ifd.striped) math.min(ifd.tileHeight, ifd.height - ty * ifd.tileHeight)
      else ifd.tileHeight
    val pixelsPerTile = ifd.tileWidth * rowsInChunk

    if (ifd.compression == 7 && st == Uint8) { // JPEG: always 8-bit chunky (predictor n/a)
      if (ifd.planarConfig != 1)
        throw new java.io.IOException("JPEG tiles with PlanarConfiguration=2 unsupported")
      if (idx >= ifd.tileByteCounts.length || idx >= ifd.tileOffsets.length)
        throw new java.io.IOException(s"corrupt TIFF: tile index $idx outside arrays")
      if (ifd.tileByteCounts(idx) == 0) return new Array[Byte](pixelsPerTile * spp)
      return decodeJpegTile(reader.read(ifd.tileOffsets(idx), ifd.tileByteCounts(idx).toInt), ifd)
    }

    val bytesPer = st.sampleBytes(ifd)
    ifd.planarConfig match {
      case 1 => loadChunkBytes(reader, ifd, idx, spp, rowsInChunk, bytesPer)
      case 2 => // plane-major tile order (TIFF 6.0, PlanarConfiguration=2)
        val tilesPerPlane = tilesAcross * tilesDown
        val out = new Array[Byte](pixelsPerTile * spp * bytesPer)
        var p = 0
        while (p < spp) {
          val plane = loadChunkBytes(reader, ifd, p * tilesPerPlane + idx, 1, rowsInChunk, bytesPer)
          var i = 0
          while (i < pixelsPerTile) {
            System.arraycopy(plane, i * bytesPer, out, (i * spp + p) * bytesPer, bytesPer)
            i += 1
          }
          p += 1
        }
        out
      case pc => throw new java.io.IOException(s"unsupported PlanarConfiguration $pc")
    }
  }

  /** The output sample type of a window read: uint8 for [[tile]], float32
    * for [[tileFloat]]. */
  private sealed abstract class SampleType[A <: AnyRef] {
    /** Output samples for `n` pixel bands, each the value outside the raster. */
    def fill(n: Int): A
    /** Bytes per stored sample of `ifd`; refuses a layout this type would
      * misread. */
    def sampleBytes(ifd: Ifd): Int
    /** A decoded chunk of `ifd` ([[readChunk]]) as output samples. */
    def convert(ifd: Ifd, chunk: Array[Byte]): A
  }

  private case object Uint8 extends SampleType[Array[Byte]] {
    def fill(n: Int): Array[Byte] = new Array[Byte](n)
    def sampleBytes(ifd: Ifd): Int = {
      if (ifd.sampleFormat != 1)
        throw new java.io.IOException(
          s"unsupported SampleFormat ${ifd.sampleFormat} for uint8 reads " +
            "(1 = unsigned only; float32 rasters go through tileFloat) — " +
            "refusing to silently misinterpret sample bytes")
      val bytesPer = ifd.bitsPerSample match {
        case 8 => 1
        case 16 => 2
        case b => throw new java.io.IOException(s"unsupported TIFF bitsPerSample $b (8/16 only)")
      }
      if (ifd.predictor != 1 && ifd.predictor != 2)
        throw new java.io.IOException(
          s"unsupported TIFF predictor ${ifd.predictor} (1 or 2 only) — refusing to decode corrupted pixels")
      bytesPer
    }
    def convert(ifd: Ifd, chunk: Array[Byte]): Array[Byte] =
      if (ifd.compression == 7 || ifd.bitsPerSample != 16) chunk
      else { // uint16 -> uint8: take the high byte (linear 16->8 downscale)
        val hiOff = if (ifd.littleEndian) 1 else 0
        val out = new Array[Byte](chunk.length / 2)
        var i = 0
        while (i < out.length) { out(i) = chunk(2 * i + hiOff); i += 1 }
        out
      }
  }

  /** SampleFormat 3, 32-bit samples: the DEM/elevation layout. Predictor 1
    * (none) or 3 (the TIFF TechNote-3 floating-point predictor GDAL writes
    * for DEM COGs); predictor 2 is integer-only and throws. */
  private case object Float32 extends SampleType[Array[Float]] {
    def fill(n: Int): Array[Float] = {
      val out = new Array[Float](n)
      java.util.Arrays.fill(out, Float.NaN)
      out
    }
    def sampleBytes(ifd: Ifd): Int = {
      if (ifd.sampleFormat != 3 || ifd.bitsPerSample != 32)
        throw new java.io.IOException(
          s"tileFloat needs SampleFormat 3 / 32-bit samples, got " +
            s"format ${ifd.sampleFormat} / ${ifd.bitsPerSample}-bit")
      if (ifd.predictor != 1 && ifd.predictor != 3)
        throw new java.io.IOException(
          s"unsupported predictor ${ifd.predictor} for float32 samples (1 or 3 only; " +
            "2 is integer horizontal differencing) — refusing to decode corrupted pixels")
      4
    }
    def convert(ifd: Ifd, chunk: Array[Byte]): Array[Float] = {
      // GDAL_NODATA (tag 42113) masks to NaN — the same "no data here"
      // the out-of-raster padding uses (rio-tiler mask parity for the
      // continuous-raster path; 0 stays a valid elevation)
      val hasNd = ifd.nodata.isDefined
      val ndVal = ifd.nodata.getOrElse(Double.NaN).toFloat
      val out = new Array[Float](chunk.length / 4)
      var i = 0
      while (i < out.length) {
        val o = i * 4
        val bits =
          if (ifd.littleEndian)
            (chunk(o) & 0xff) | ((chunk(o + 1) & 0xff) << 8) |
              ((chunk(o + 2) & 0xff) << 16) | ((chunk(o + 3) & 0xff) << 24)
          else
            ((chunk(o) & 0xff) << 24) | ((chunk(o + 1) & 0xff) << 16) |
              ((chunk(o + 2) & 0xff) << 8) | (chunk(o + 3) & 0xff)
        val v = java.lang.Float.intBitsToFloat(bits)
        out(i) = if (hasNd && v == ndVal) Float.NaN else v
        i += 1
      }
      out
    }
  }

  /** One decoded on-disk chunk (tile, strip, or plane): range-read,
    * decompressed, predictor-reversed, for [[readChunk]]. Sparse COGs
    * mark absent chunks with byteCount 0 -> all-zero chunk. */
  private def loadChunkBytes(reader: RangeReader, ifd: Ifd, chunkIdx: Int,
      chunkSpp: Int, rowsInChunk: Int, bytesPer: Int): Array[Byte] = {
    val expected = ifd.tileWidth * rowsInChunk * chunkSpp * bytesPer
    if (chunkIdx >= ifd.tileByteCounts.length || chunkIdx >= ifd.tileOffsets.length)
      throw new java.io.IOException(
        s"corrupt TIFF: tile index $chunkIdx outside offsets/byteCounts arrays " +
          s"(${ifd.tileOffsets.length}/${ifd.tileByteCounts.length})")
    if (ifd.tileByteCounts(chunkIdx) == 0) return new Array[Byte](expected)
    val raw = reader.read(ifd.tileOffsets(chunkIdx), ifd.tileByteCounts(chunkIdx).toInt)
    val data = ifd.compression match {
      case 1 => raw // uncompressed
      case 5 => lzwDecode(raw, expected)
      case 8 | 32946 => inflate(raw, expected)
      case 32773 => packBitsDecode(raw, expected)
      case 34925 => lzmaDecompress(raw, expected)
      case 34887 => lercDecompress(raw, ifd, rowsInChunk, chunkSpp, bytesPer)
      case 50000 => zstdDecompress(raw, expected)
      case 50001 => webpDecompress(raw, ifd, rowsInChunk, chunkSpp, bytesPer)
      case c =>
        // name the known-but-unsupported registrations so the user learns
        // which GDAL creation option to change, not just a number
        val name = c match {
          case 6 => " (old-style JPEG)"
          case _ => ""
        }
        throw new java.io.IOException(s"unsupported TIFF compression $c$name — " +
          "supported: none(1), LZW(5), JPEG(7), Deflate(8/32946), " +
          "PackBits(32773), LERC(34887), LZMA(34925), ZSTD(50000), " +
          "WebP-lossless(50001)")
    }
    if (ifd.predictor == 2)
      undoPredictor2(data, ifd.tileWidth, rowsInChunk, chunkSpp, bytesPer, ifd.littleEndian)
    else if (ifd.predictor == 3) {
      if (bytesPer != 4)
        throw new java.io.IOException(
          s"TIFF predictor 3 (floating point) with $bytesPer-byte samples — 4-byte float32 only")
      undoPredictor3(data, ifd.tileWidth, rowsInChunk, chunkSpp, ifd.littleEndian)
    }
    data
  }

  /** GDAL's registered LZMA TIFF compression (tag value 34925): libtiff's
    * tif_lzma.c wraps each tile/strip in a standalone .xz stream (LZMA2
    * filter chain via liblzma's stream encoder), so decode is one
    * XZInputStream drain per chunk — via the org.tukaani.xz library
    * Spark already ships. Trailing garbage or a short stream throws
    * rather than returning a partially-filled tile. */
  private[sources] def lzmaDecompress(raw: Array[Byte], expected: Int): Array[Byte] = {
    val in = new org.tukaani.xz.XZInputStream(
      new java.io.ByteArrayInputStream(raw))
    try {
      val out = new Array[Byte](expected)
      var off = 0
      var n = 0
      while (off < expected &&
          { n = in.read(out, off, expected - off); n > 0 }) off += n
      if (off != expected || in.read() != -1)
        throw new java.io.IOException(
          s"LZMA tile decompressed to $off bytes, expected $expected")
      out
    } finally in.close()
  }

  /** GDAL's registered LERC TIFF compression (tag value 34887): each
    * chunk is a Lerc2 blob ([[Lerc]]), optionally wrapped in an outer
    * deflate or zstd layer per LERC_PARAMETERS tag 50674 (libtiff's
    * lerc_deflate / lerc_zstd). Decoded values are repacked into the
    * chunk's declared TIFF sample layout (chunky, file byte order);
    * LERC-masked pixels come back as NaN for float samples and 0 for
    * integer samples — GDAL_NODATA masking then applies downstream as
    * with every other codec. */
  private[sources] def lercDecompress(raw: Array[Byte], ifd: Ifd,
      rowsInChunk: Int, chunkSpp: Int, bytesPer: Int): Array[Byte] = {
    val blob = ifd.lercAddCompression match {
      case 0 => raw
      case 1 => // deflate outer layer, decompressed size unknown a priori
        val inf = new java.util.zip.Inflater()
        inf.setInput(raw)
        val out = new java.io.ByteArrayOutputStream(raw.length * 4)
        val buf = new Array[Byte](65536)
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0 && inf.needsInput())
            throw new java.io.IOException("truncated LERC deflate layer")
          out.write(buf, 0, n)
        }
        inf.end()
        out.toByteArray
      case 2 => // zstd outer layer
        val in = new com.github.luben.zstd.ZstdInputStream(
          new java.io.ByteArrayInputStream(raw))
        try in.readAllBytes() finally in.close()
      case c => throw new java.io.IOException(
        s"unknown LERC additional compression $c (0 none, 1 deflate, 2 zstd)")
    }
    val t = Lerc.decode(blob)
    if (t.nCols != ifd.tileWidth || t.nRows != rowsInChunk || t.nDim != chunkSpp)
      throw new java.io.IOException(
        s"LERC tile is ${t.nCols}x${t.nRows}x${t.nDim}, chunk expects " +
          s"${ifd.tileWidth}x${rowsInChunk}x$chunkSpp")
    if (Lerc.TypeSizes(t.dataType) != bytesPer)
      throw new java.io.IOException(
        s"LERC data type ${t.dataType} is ${Lerc.TypeSizes(t.dataType)}-byte, " +
          s"TIFF declares $bytesPer-byte samples")
    val isFloat = t.dataType == 6 || t.dataType == 7
    if (isFloat != (ifd.sampleFormat == 3))
      throw new java.io.IOException(
        s"LERC data type ${t.dataType} vs TIFF SampleFormat ${ifd.sampleFormat}")
    if (ifd.predictor != 1)
      throw new java.io.IOException("LERC tiles never carry a TIFF predictor")
    val n = t.values.length
    val out = new Array[Byte](n * bytesPer)
    var i = 0
    while (i < n) {
      val valid = t.mask(i / t.nDim)
      bytesPer match {
        case 1 =>
          out(i) = if (valid) t.values(i).toInt.toByte else 0
        case 2 =>
          val s = if (valid) t.values(i).toInt else 0
          val (lo, hi) = if (ifd.littleEndian) (0, 1) else (1, 0)
          out(2 * i + lo) = (s & 0xff).toByte
          out(2 * i + hi) = ((s >> 8) & 0xff).toByte
        case 4 =>
          val bits =
            if (!valid) { if (isFloat) java.lang.Float.floatToIntBits(Float.NaN) else 0 }
            else if (isFloat) java.lang.Float.floatToIntBits(t.values(i).toFloat)
            else t.values(i).toLong.toInt
          var k = 0
          while (k < 4) {
            val shift = if (ifd.littleEndian) 8 * k else 8 * (3 - k)
            out(4 * i + k) = ((bits >> shift) & 0xff).toByte
            k += 1
          }
        case b => throw new java.io.IOException(s"LERC: $b-byte samples unsupported")
      }
      i += 1
    }
    out
  }

  /** GDAL's registered WebP TIFF compression (tag value 50001): libtiff's
    * tif_webp wraps each tile/strip in a standalone .webp file. Lossless
    * (VP8L) streams decode natively ([[Webp]]); lossy (VP8) is refused by
    * name inside the decoder. WebP is 8-bit RGB(A) by construction, so
    * the chunk must declare 1-byte samples and 3 or 4 samples per pixel;
    * a VP8L alpha channel is dropped when the TIFF says 3 and kept when
    * it says 4 (libtiff's own behavior). */
  private[sources] def webpDecompress(raw: Array[Byte], ifd: Ifd,
      rowsInChunk: Int, chunkSpp: Int, bytesPer: Int): Array[Byte] = {
    if (bytesPer != 1)
      throw new java.io.IOException(
        s"WebP tiles are 8-bit only, TIFF declares $bytesPer-byte samples")
    if (chunkSpp != 3 && chunkSpp != 4)
      throw new java.io.IOException(
        s"WebP tiles carry RGB(A) (3 or 4 samples), chunk expects $chunkSpp")
    if (ifd.predictor != 1)
      throw new java.io.IOException("WebP tiles never carry a TIFF predictor")
    val img = Webp.decode(raw)
    if (img.width != ifd.tileWidth || img.height != rowsInChunk)
      throw new java.io.IOException(
        s"WebP tile is ${img.width}x${img.height}, chunk expects " +
          s"${ifd.tileWidth}x$rowsInChunk")
    val n = img.pixels.length
    val out = new Array[Byte](n * chunkSpp)
    var i = 0
    while (i < n) {
      val p = img.pixels(i)
      out(i * chunkSpp) = ((p >> 16) & 0xff).toByte
      out(i * chunkSpp + 1) = ((p >> 8) & 0xff).toByte
      out(i * chunkSpp + 2) = (p & 0xff).toByte
      if (chunkSpp == 4) out(i * chunkSpp + 3) = ((p >>> 24) & 0xff).toByte
      i += 1
    }
    out
  }

  /** GDAL's registered ZSTD TIFF compression (tag value 50000), via the
    * zstd-jni library Spark already ships for shuffle compression. */
  private[sources] def zstdDecompress(raw: Array[Byte], expected: Int): Array[Byte] = {
    val out = com.github.luben.zstd.Zstd.decompress(raw, expected)
    if (out.length != expected)
      throw new java.io.IOException(
        s"ZSTD tile decompressed to ${out.length} bytes, expected $expected")
    out
  }

  /** Reverse Predictor=3 (TIFF Technical Note 3 floating-point predictor)
    * in place, matching libtiff's fpAcc: each row's bytes were split into
    * byte planes (plane 0 = most-significant byte of every sample,
    * ALWAYS MSB-first regardless of the file's byte order) and then
    * horizontally differenced at byte level with stride = samples-per-
    * pixel. Decode = cumulative-sum the row bytes, then reassemble each
    * sample from its plane bytes — emitted here in the FILE's byte order
    * so the float-parsing path stays uniform. */
  private[sources] def undoPredictor3(data: Array[Byte], tw: Int, rows: Int,
      spp: Int, le: Boolean): Unit = {
    val n = tw * spp // samples per row
    val rowBytes = n * 4
    val tmp = new Array[Byte](rowBytes)
    var row = 0
    while (row < rows) {
      val ro = row * rowBytes
      var i = spp
      while (i < rowBytes) {
        data(ro + i) = ((data(ro + i) + data(ro + i - spp)) & 0xff).toByte
        i += 1
      }
      System.arraycopy(data, ro, tmp, 0, rowBytes)
      var s = 0
      while (s < n) {
        var k = 0
        while (k < 4) {
          val dst = if (le) 3 - k else k
          data(ro + s * 4 + dst) = tmp(k * n + s)
          k += 1
        }
        s += 1
      }
      row += 1
    }
  }

  /** Decode a compression-7 ("new-style") JPEG tile. Tiles are abbreviated
    * JPEG streams sharing quant/Huffman tables via tag 347: splice the
    * tables stream (minus its EOI) ahead of the tile stream (minus its SOI)
    * — the same merge GDAL performs — then hand the result to ImageIO.
    * ImageIO performs the YCbCr->RGB conversion for photometric 6. */
  private def decodeJpegTile(raw: Array[Byte], ifd: Ifd): Array[Byte] = {
    val stream = ifd.jpegTables match {
      case Some(tb) if tb.length >= 4 && raw.length >= 2 =>
        // tables = SOI ... EOI ; tile = SOI SOF/SOS ... EOI
        val tLen = if ((tb(tb.length - 2) & 0xff) == 0xff &&
          (tb(tb.length - 1) & 0xff) == 0xd9) tb.length - 2 else tb.length
        val merged = new Array[Byte](tLen + raw.length - 2)
        System.arraycopy(tb, 0, merged, 0, tLen)
        System.arraycopy(raw, 2, merged, tLen, raw.length - 2)
        merged
      case _ => raw // self-contained per-tile streams (no tag 347)
    }
    val img = TileSources.readImage(stream)
    if (img == null) throw new java.io.IOException("undecodable JPEG tile")
    val tw = ifd.tileWidth
    val th = ifd.tileHeight
    val spp = ifd.samplesPerPixel
    val out = new Array[Byte](tw * th * spp)
    val r = img.getRaster
    val w = math.min(tw, img.getWidth)
    val h = math.min(th, img.getHeight)
    val nb = math.min(spp, r.getNumBands)
    // ImageIO's JPEG reader always yields an 8-bit pixel-interleaved raster
    if (!TileSources.copyInterleaved(r, out, w, h, tw * spp, spp, nb))
      throw new java.io.IOException("JPEG tile decoded to an unsupported raster layout")
    out
  }

  /** The full-res georeference; overviews share it with scaled pixel size. */
  private def geo(full: Ifd): ((Double, Double), (Double, Double)) =
    (full.pixelScale.getOrElse(throw new java.io.IOException("no ModelPixelScale")),
      full.tiepoint.getOrElse(throw new java.io.IOException("no ModelTiepoint")))

  /** EPSG:3857 model coords -> the COG's native CRS, or null for the
    * identity fast path (web-mercator COGs, or no GeoKeys = assumed 3857,
    * the engine's historical contract). Any OTHER GeoKey-declared CRS in
    * [[graft.core.Proj]]'s table gets a true per-pixel inverse-mercator ->
    * forward-native warp (rio-tiler/WarpedVRT parity); unknown codes throw
    * rather than render a raster in the wrong place. */
  private def warpMap(full: Ifd): (Double, Double) => (Double, Double) =
    full.epsg match {
      case None | Some(3857) | Some(900913) => null
      case Some(code) =>
        val crs = graft.core.Proj.crs(code.toString).getOrElse(
          throw new java.io.IOException(
            "COG: " + graft.core.Proj.unsupportedMessage(code.toString) +
              " — refusing to place pixels in the wrong CRS"))
        val r = 6378137.0
        (mx: Double, my: Double) => {
          val lon = math.toDegrees(mx / r)
          val lat = math.toDegrees(2 * math.atan(math.exp(my / r)) - math.Pi / 2)
          crs.forward(lon, lat)
        }
    }

  /** Target resolution in NATIVE units/pixel for overview selection: the
    * native-space distance covered by one target pixel at the tile
    * centre (exact for the identity map). */
  private def nativeRes(map: (Double, Double) => (Double, Double),
      west: Double, south: Double, east: Double, north: Double,
      targetRes: Double): Double =
    if (map == null) targetRes
    else {
      val cx = (west + east) / 2
      val cy = (south + north) / 2
      val (x0, y0) = map(cx, cy)
      val (x1, y1) = map(cx + targetRes, cy)
      val (x2, y2) = map(cx, cy + targetRes)
      // anisotropic CRSs (geographic especially): use the smaller axis so
      // the chosen overview is never coarser than the target anywhere
      math.min(math.hypot(x1 - x0, y1 - y0), math.hypot(x2 - x0, y2 - y0))
    }

  /** Per-JVM IFD cache: a COG's header is immutable for a job's lifetime,
    * and images() calls tile() once per XYZ tile — without the cache a
    * 10k-tile job re-fetches and re-parses the same 64 KiB head 10k times.
    * LRU-bounded: a long-lived executor that touches many thousands of
    * distinct COG paths must not accrete header metadata forever. A racy
    * double-parse under contention is harmless (idempotent). */
  private val IfdCacheMax = 1024
  private val ifdCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Seq[Ifd]](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Seq[Ifd]]): Boolean =
        size() > IfdCacheMax
    })

  private def ifdsFor(path: String, reader: RangeReader): Seq[Ifd] = {
    val cached = ifdCache.get(path)
    if (cached != null) cached
    else {
      val parsed = parseIfds(reader)
      ifdCache.put(path, parsed)
      parsed
    }
  }

  /** The reference's XYZ tile size: every window is 256x256 pixels. */
  private val TileSize = 256

  /** Reads the 256x256 web-mercator window of XYZ tile `t` as bands-last
    * samples of type `st`, nearest-neighbour at pixel centres; pixels
    * outside the raster keep `st`'s fill. Returns (w, h, bands, samples). */
  private def window[A <: AnyRef](path: String, t: TileKey,
      st: SampleType[A]): (Int, Int, Int, A) = {
    val reader = readerFor(path)
    try {
      val ifds = ifdsFor(path, reader)
      val full = ifds.head
      val ((sx, _), (ox, oy)) = geo(full)
      val m = warpMap(full) // null = native 3857, no per-pixel reprojection
      val b = Tiles.tileBounds3857(t)
      val targetRes = nativeRes(m, b.west, b.south, b.east, b.north,
        (b.east - b.west) / TileSize)
      // the coarsest IFD whose resolution is <= target (else full res)
      val chosen = ifds.map(ifd => (ifd, sx * full.width / ifd.width))
        .filter(_._2 <= targetRes + 1e-9)
        .sortBy(-_._2).headOption.map(_._1).getOrElse(full)
      val res = sx * full.width / chosen.width
      val bands = chosen.samplesPerPixel
      val tilesAcross = (chosen.width + chosen.tileWidth - 1) / chosen.tileWidth
      val out = st.fill(TileSize * TileSize * bands)
      // the (few) internal tiles this window touches, each decoded once;
      // neighbouring pixels mostly share one, so look up only on a change
      val cache = scala.collection.mutable.HashMap[Int, A]()
      var lastIdx = -1
      var data: AnyRef = null
      var py = 0
      while (py < TileSize) {
        // center-of-pixel sampling in model space
        val my = b.north - (py + 0.5) * (b.north - b.south) / TileSize
        // 1e-9 px epsilon: a center landing exactly on a raster-pixel edge
        // resolves to the next pixel (GDAL-nearest convention) instead of
        // flip-flopping on float error
        val ryFast = if (m == null) ((oy - my) / res + 1e-9).toInt else 0
        var px = 0
        while (px < TileSize) {
          val mx = b.west + (px + 0.5) * (b.east - b.west) / TileSize
          var rx = 0
          var ry = ryFast
          if (m == null) rx = ((mx - ox) / res + 1e-9).toInt
          else {
            val (nx, ny) = m(mx, my)
            rx = ((nx - ox) / res + 1e-9).toInt
            ry = ((oy - ny) / res + 1e-9).toInt
          }
          if (rx >= 0 && ry >= 0 && rx < chosen.width && ry < chosen.height) {
            val tx = rx / chosen.tileWidth
            val ty = ry / chosen.tileHeight
            val idx = ty * tilesAcross + tx
            if (idx != lastIdx) {
              lastIdx = idx
              data = cache.getOrElseUpdate(idx,
                st.convert(chosen, readChunk(reader, chosen, tx, ty, st)))
            }
            val lx = rx % chosen.tileWidth
            val ly = ry % chosen.tileHeight
            System.arraycopy(data, (ly * chosen.tileWidth + lx) * bands,
              out, (py * TileSize + px) * bands, bands)
          }
          px += 1
        }
        py += 1
      }
      (TileSize, TileSize, bands, out)
    } finally reader.close()
  }

  /** `COGReader(path).tile(x, y, z)` equivalent: a 256x256 bands-last
    * uint8 window for the web-mercator XYZ tile. Pixels outside the
    * raster are 0 (rio-tiler pads nodata). */
  def tile(path: String, t: TileKey): (Int, Int, Int, Array[Byte]) =
    window(path, t, Uint8)

  /** Windowed float32 read: the web-mercator tile `t` resampled (nearest,
    * center-of-pixel — same conventions as [[tile]]) from a SampleFormat-3
    * raster (DEM/elevation COGs). Pixels outside the raster and GDAL_NODATA
    * samples are Float.NaN (the conventional "no data here" for continuous
    * rasters, where 0 is a perfectly valid elevation). Returns (w, h,
    * bands, interleaved floats). */
  def tileFloat(path: String, t: TileKey): (Int, Int, Int, Array[Float]) =
    window(path, t, Float32)
}
