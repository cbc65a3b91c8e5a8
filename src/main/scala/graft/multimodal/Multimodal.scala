package graft.multimodal

import graft.sources.TileSources
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Multimodal columns for training-data pipelines (builder contract):
  * image/audio/video as opaque `binary` columns with typed metadata, and
  * per-partition batch decode / feature-extract / resize / frame-sample
  * operators.
  *
  * Spark-side plumbing (schema, partitioning, batch shape) is real and
  * tested. Codec coverage in this container: PNG/JPEG decode + resize are
  * REAL (javax.imageio + Graphics2D); WAV/PCM16 audio parsing is REAL
  * (plain header parse); video frame sampling is REAL for AVI/MJPEG
  * (RIFF walk + the JVM's JPEG decoder — [[sampleFramesAvi]]); other
  * video containers are refused loudly by [[sampleFrames]], with a
  * deterministic md5-derived stub ([[sampleFramesStub]]) available for
  * plumbing tests, so swapping in a real codec changes one function.
  */
object Multimodal {

  final case class ImageMeta(width: Int, height: Int, bands: Int,
      meanR: Double, meanG: Double, meanB: Double)
  final case class AudioMeta(sampleRate: Int, channels: Int, nSamples: Long,
      rms: Double)

  val imageMetaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("bands", IntegerType), StructField("meanR", DoubleType),
    StructField("meanG", DoubleType), StructField("meanB", DoubleType)))

  // ---- image ----

  /** Decoded pixels: `(width, height, color-model components, rgb)` with
    * `rgb(y * width + x)` = `getRGB(x, y)`'s 0xRRGGBB, read from the
    * bytes [[TileSources.decodeImage]] gives (one band is gray: r = g = b).
    * Throws on undecodable bytes. */
  private def pixels(bytes: Array[Byte]): (Int, Int, Int, Array[Int]) = {
    val img = TileSources.readImage(bytes)
    if (img == null) throw new java.io.IOException("undecodable image")
    val (h, w, bands, data) = TileSources.rgbBytes(img)
    val rgb = Array.tabulate(h * w) { p =>
      if (bands == 1) (data(p) & 0xff) * 0x010101
      else ((data(p * bands) & 0xff) << 16) | ((data(p * bands + 1) & 0xff) << 8) |
        (data(p * bands + 2) & 0xff)
    }
    (w, h, img.getColorModel.getNumComponents, rgb)
  }

  /** REAL decode for PNG/JPEG bytes; null on undecodable input. */
  def decodeImageMeta(bytes: Array[Byte]): Option[ImageMeta] =
    try {
      val (w, h, components, rgb) = pixels(bytes)
      var (sr, sg, sb) = (0L, 0L, 0L)
      rgb.foreach { p => sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff }
      val n = (w.toLong * h).toDouble
      Some(ImageMeta(w, h, components, sr / n, sg / n, sb / n))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** REAL resize: decode -> bilinear scale -> PNG bytes; null if undecodable. */
  def resizeImage(bytes: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
    try {
      val img = TileSources.readImage(bytes)
      if (img == null) None
      else {
        val out = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
        g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        Some(bos.toByteArray)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Adds an `image_meta` struct column decoded per partition-batch from a
    * binary column. Null-safe: undecodable rows get null meta. */
  def withImageMeta(df: DataFrame, binaryCol: String, out: String = "image_meta"): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema.add(out, imageMetaSchema, nullable = true)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    // index-based access: a chained mapPartitions (e.g. after
    // explodeFrames) hands over schema-less rows within the fused stage
    val bin = df.schema.fieldIndex(binaryCol)
    df.mapPartitions { it =>
      it.map { r =>
        val meta = Option(r.get(bin).asInstanceOf[Array[Byte]]).flatMap(decodeImageMeta)
          .map(m => Row(m.width, m.height, m.bands, m.meanR, m.meanG, m.meanB)).orNull
        Row.fromSeq(r.toSeq :+ meta)
      }
    }(enc)
  }

  /** REAL patch-mean image embedding: decode, partition the image into a
    * `grid`×`grid` cell lattice, average RGB per cell → float vector of
    * length grid²·3. The classic codec-only baseline embedding — feeds
    * straight into [[graft.operators.Similarity]] (cosine top-k, blocked
    * near-dup, LSH, IVF) for image-dedup pipelines. */
  def imageEmbedding(bytes: Array[Byte], grid: Int = 4): Option[Array[Float]] =
    try {
      val (w, h, _, rgb) = pixels(bytes)
      val sums = new Array[Long](grid * grid * 3)
      val counts = new Array[Long](grid * grid)
      var y = 0
      while (y < h) {
        val cy = math.min(grid - 1, y * grid / h)
        var x = 0
        while (x < w) {
          val cx = math.min(grid - 1, x * grid / w)
          val cell = cy * grid + cx
          val p = rgb(y * w + x)
          sums(cell * 3) += (p >> 16) & 0xff
          sums(cell * 3 + 1) += (p >> 8) & 0xff
          sums(cell * 3 + 2) += p & 0xff
          counts(cell) += 1
          x += 1
        }
        y += 1
      }
      val out = new Array[Float](grid * grid * 3)
      var c = 0
      while (c < grid * grid) {
        val n = math.max(1L, counts(c)).toDouble
        out(c * 3) = (sums(c * 3) / n).toFloat
        out(c * 3 + 1) = (sums(c * 3 + 1) / n).toFloat
        out(c * 3 + 2) = (sums(c * 3 + 2) / n).toFloat
        c += 1
      }
      Some(out)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Adds an `embedding: array<float>` column (patch-mean, see
    * [[imageEmbedding]]) decoded per partition-batch — the binary-column →
    * embedding-column step of an image near-dup pipeline. */
  def withImageEmbedding(df: DataFrame, binaryCol: String,
      out: String = "embedding", grid: Int = 4): DataFrame = {
    val schema = df.schema.add(out, ArrayType(FloatType), nullable = true)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val bin = df.schema.fieldIndex(binaryCol)
    df.mapPartitions { it =>
      it.map { r =>
        val emb = Option(r.get(bin).asInstanceOf[Array[Byte]])
          .flatMap(b => imageEmbedding(b, grid)).map(_.toSeq).orNull
        Row.fromSeq(r.toSeq :+ emb)
      }
    }(enc)
  }

  /** REAL 64-bit average-hash (aHash) perceptual image fingerprint:
    * decode, average grayscale per cell of an 8x8 lattice, one bit per
    * cell = cell-mean > image-mean. Robust to resizing/re-encoding (the
    * lattice averages survive), so near-identical images land within a
    * few bits — pair them with [[graft.operators.Dedup.hammingNearDupPairs]]. */
  def aHash64(bytes: Array[Byte]): Option[Long] =
    try {
      val (w, h, _, rgb) = pixels(bytes)
      val sums = new Array[Long](64)
      val counts = new Array[Long](64)
      var y = 0
      while (y < h) {
        val cy = math.min(7, y * 8 / h)
        var x = 0
        while (x < w) {
          val cx = math.min(7, x * 8 / w)
          val p = rgb(y * w + x)
          // integer luma (BT.601 weights scaled by 1000) — deterministic
          val gray = (((p >> 16) & 0xff) * 299 + ((p >> 8) & 0xff) * 587 + (p & 0xff) * 114)
          sums(cy * 8 + cx) += gray
          counts(cy * 8 + cx) += 1
          x += 1
        }
        y += 1
      }
      var total = 0.0
      val means = Array.tabulate(64)(c => sums(c).toDouble / math.max(1L, counts(c)))
      means.foreach(total += _)
      val mean = total / 64
      var bits = 0L
      var c = 0
      while (c < 64) {
        if (means(c) > mean) bits |= (1L << c)
        c += 1
      }
      Some(bits)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Adds an `ahash: bigint` perceptual-hash column decoded per
    * partition-batch (null for undecodable rows) — the image analogue of
    * [[graft.operators.Text.simhash16]]'s text fingerprint. */
  def withImageAHash(df: DataFrame, binaryCol: String, out: String = "ahash"): DataFrame = {
    val schema = df.schema.add(out, LongType, nullable = true)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val bin = df.schema.fieldIndex(binaryCol)
    df.mapPartitions { it =>
      it.map { r =>
        val hsh = Option(r.get(bin).asInstanceOf[Array[Byte]]).flatMap(aHash64)
          .map(java.lang.Long.valueOf).orNull
        Row.fromSeq(r.toSeq :+ hsh)
      }
    }(enc)
  }

  // ---- audio ----

  /** REAL WAV/PCM16 parse (RIFF header + fmt + data chunks). */
  def decodeWavMeta(bytes: Array[Byte]): Option[AudioMeta] = {
    try {
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      if (bytes.length < 44 || bb.getInt(0) != 0x46464952 /* RIFF */ ) return None
      var pos = 12
      var rate = 0
      var channels = 0
      var bits = 0
      var dataOff = -1
      var dataLen = 0
      while (pos + 8 <= bytes.length) {
        val id = bb.getInt(pos)
        val len = bb.getInt(pos + 4)
        if (len < 0) return None // malformed chunk length: don't loop
        if (id == 0x20746d66) { // "fmt "
          channels = bb.getShort(pos + 10).toInt
          rate = bb.getInt(pos + 12)
          bits = bb.getShort(pos + 22).toInt
        } else if (id == 0x61746164) { // "data"
          dataOff = pos + 8
          dataLen = math.min(len, bytes.length - dataOff)
        }
        pos += 8 + len + (len & 1)
      }
      if (rate == 0 || dataOff < 0 || bits != 16) return None
      val n = dataLen / 2
      var sum2 = 0.0
      var i = 0
      while (i < n) {
        val s = bb.getShort(dataOff + 2 * i).toDouble / 32768.0
        sum2 += s * s
        i += 1
      }
      Some(AudioMeta(rate, channels, n.toLong / math.max(1, channels),
        math.sqrt(sum2 / math.max(1, n))))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // ---- video ----

  private def cc(b: Array[Byte], off: Int): String =
    if (off + 4 <= b.length) new String(b, off, 4, "ISO-8859-1") else ""
  private def u32le(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  /** Is this binary an AVI container (RIFF/'AVI ' magic)? */
  def isAvi(media: Array[Byte]): Boolean =
    media.length >= 12 && cc(media, 0) == "RIFF" && cc(media, 8) == "AVI "

  /** REAL AVI/MJPEG frame sampling (public RIFF-AVI container spec +
    * the JVM's own JPEG decoder — MJPEG video frames ARE standalone JPEG
    * images in '##dc' chunks). Walks the RIFF tree to the 'movi' LIST
    * (recursing into 'rec ' groups), collects the video-frame chunks, and
    * returns `min(n, frames)` of them uniformly strided — each element is
    * a complete JPEG, so it feeds [[withImageAHash]] /
    * [[withImageEmbedding]] / [[withImageMeta]] unchanged.
    *
    * Honest refusals (IOException, never silent garbage): a video stream
    * whose strh fccHandler is not MJPG/mjpg/dmb1, a movi LIST with no
    * video chunks, or a structurally broken RIFF tree. Non-AVI containers
    * are refused by [[sampleFrames]] before this is called. */
  def sampleFramesAvi(media: Array[Byte], n: Int): Seq[Array[Byte]] = {
    if (!isAvi(media)) throw new java.io.IOException("not a RIFF/AVI container")
    var codec: String = null
    var moviOff = -1L
    var moviEnd = -1L
    // top-level walk: LIST 'hdrl' (stream headers), LIST 'movi' (frames)
    def walk(off: Long, end: Long): Unit = {
      var pos = off
      while (pos + 8 <= end) {
        val id = cc(media, pos.toInt)
        val len = u32le(media, pos.toInt + 4)
        if (id == "LIST" && pos + 12 <= end) {
          val ltype = cc(media, pos.toInt + 8)
          if (ltype == "movi") { moviOff = pos + 12; moviEnd = math.min(end, pos + 8 + len) }
          else walk(pos + 12, math.min(end, pos + 8 + len))
        } else if (id == "strh" && pos + 8 + 8 <= end) {
          // fccType at +8, fccHandler at +12 (first video stream wins)
          if (cc(media, pos.toInt + 8) == "vids" && codec == null)
            codec = cc(media, pos.toInt + 12)
        }
        if (len < 0 || len > media.length) throw new java.io.IOException("malformed RIFF chunk length")
        pos += 8 + len + (len & 1)
      }
    }
    walk(12, math.min(media.length.toLong, 8 + u32le(media, 4)))
    if (moviOff < 0) throw new java.io.IOException("AVI has no movi LIST")
    if (codec != null && !Seq("MJPG", "mjpg", "dmb1").contains(codec))
      throw new java.io.IOException(
        s"AVI video codec '$codec' is not MJPEG — no decoder in this JVM, refusing")
    // collect video frame chunks ('##dc' compressed / '##db' uncompressed),
    // recursing into 'rec ' interleave groups
    val frames = scala.collection.mutable.ArrayBuffer[(Long, Long)]() // (off, len)
    def scanMovi(off: Long, end: Long): Unit = {
      var pos = off
      while (pos + 8 <= end) {
        val id = cc(media, pos.toInt)
        val len = u32le(media, pos.toInt + 4)
        if (len < 0 || len > media.length) throw new java.io.IOException("malformed RIFF chunk length")
        if (id == "LIST" && cc(media, pos.toInt + 8) == "rec ")
          scanMovi(pos + 12, math.min(end, pos + 8 + len))
        else if (id.length == 4 && id(0).isDigit && id(1).isDigit &&
          (id.endsWith("dc") || id.endsWith("db")) && len > 0)
          frames += ((pos + 8, len))
        pos += 8 + len + (len & 1)
      }
    }
    scanMovi(moviOff, moviEnd)
    if (frames.isEmpty) throw new java.io.IOException("AVI movi LIST has no video frames")
    val m = math.min(n, frames.length)
    (0 until m).map { j =>
      val (off, len) = frames((j.toLong * frames.length / m).toInt)
      java.util.Arrays.copyOfRange(media, off.toInt, (off + len).toInt)
    }
  }

  /** Frame sampling over a video binary: REAL for AVI/MJPEG
    * ([[sampleFramesAvi]]); every other container is refused loudly — no
    * other codec exists in this JVM, and silently faking frames for real
    * video bytes would poison a pipeline. For plumbing tests without real
    * video, use [[sampleFramesStub]] explicitly. */
  def sampleFrames(media: Array[Byte], n: Int): Seq[Array[Byte]] =
    if (isAvi(media)) sampleFramesAvi(media, n)
    else throw new java.io.IOException(
      "unsupported video container (AVI/MJPEG only — no other codecs in this JVM)")

  /** STUB — deterministic fake frame sampler for non-AVI containers:
    * emits `n` pseudo-frames whose bytes derive from md5(media ||
    * frameIdx); shape/partitioning/API match the real
    * [[sampleFramesAvi]], so plumbing can be exercised without codecs. */
  def sampleFramesStub(media: Array[Byte], n: Int): Seq[Array[Byte]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until n).map { i =>
      md.reset()
      md.update(media)
      md.update(i.toByte)
      md.digest()
    }
  }

  /** Explode a video binary column into (row, frame_idx, frame) rows —
    * the distributed frame-sampling shape (flatMap preserves partitioning;
    * no shuffle). The default sampler decodes AVI/MJPEG rows for REAL
    * (frames are standalone JPEGs, ready for [[withImageAHash]] etc.) and
    * falls back to the deterministic stub for other containers so mixed
    * corpora keep flowing; pass `sampler = Multimodal.sampleFrames` to
    * refuse non-AVI rows loudly instead. */
  def explodeFrames(df: DataFrame, binaryCol: String, nFrames: Int,
      sampler: (Array[Byte], Int) => Seq[Array[Byte]] = autoSampler): DataFrame = {
    val schema = df.schema
      .add("frame_idx", IntegerType).add("frame", BinaryType)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val bin = df.schema.fieldIndex(binaryCol)
    df.mapPartitions { it =>
      it.flatMap { r =>
        val media = r.get(bin).asInstanceOf[Array[Byte]]
        sampler(media, nFrames).zipWithIndex.map { case (frame, i) =>
          Row.fromSeq(r.toSeq :+ i :+ frame)
        }
      }
    }(enc)
  }

  /** Real decode for AVI/MJPEG, deterministic stub for anything else. */
  def autoSampler(media: Array[Byte], n: Int): Seq[Array[Byte]] =
    if (isAvi(media)) sampleFramesAvi(media, n) else sampleFramesStub(media, n)

  /** Column-level content-type sniffing — the ingest dispatch a crawled
    * media lake needs BEFORE any decoder runs (extensions lie; servers
    * mislabel): classify each binary payload by its magic number alone.
    * Pure Spark column functions (hex of the first bytes, codegen'd — no
    * JVM round trip, no UDF), so unlike the JVM-side decoders above this
    * step is DuckDB-oracle-checkable end to end. Recognizes the headers
    * the rest of this object consumes: PNG (\x89PNG\r\n\x1a\n),
    * JPEG (\xFF\xD8\xFF), GIF (GIF8), RIFF containers (AVI/WAV — the
    * [[isAvi]]/[[decodeWavMeta]] front door), PDF (%PDF-); anything else
    * is "unknown" and routes to the quarantine/text path. Adds `out`
    * (default `content_type`) as a string column.
    *
    * Scale shape: one projection over the first 8 bytes per row —
    * whole-stage codegen, no shuffle, no data movement beyond the scan. */
  def sniffContentType(df: DataFrame, binaryCol: String,
      out: String = "content_type"): DataFrame = {
    import org.apache.spark.sql.functions._
    val h8 = hex(substring(col(binaryCol), 1, 8))
    df.withColumn(out,
      when(col(binaryCol).isNull, "missing")
        .when(h8.startsWith("89504E470D0A1A0A"), "png")
        .when(h8.startsWith("FFD8FF"), "jpeg")
        .when(h8.startsWith("47494638"), "gif")
        .when(h8.startsWith("52494646"), "riff")
        .when(h8.startsWith("255044462D"), "pdf")
        .when(h8.startsWith("494433"), "mp3") // ID3v2-tagged MPEG audio
        .when(h8.startsWith("664C6143"), "flac") // fLaC
        .when(h8.startsWith("4F676753"), "ogg") // OggS page capture
        // TIFF 6.0 / BigTIFF: II*\0, II+\0, MM\0*, MM\0+
        .when(h8.startsWith("49492A00") || h8.startsWith("49492B00") ||
          h8.startsWith("4D4D002A") || h8.startsWith("4D4D002B"), "tiff")
        .when(h8.startsWith("504B0304"), "zip") // PK\x03\x04 (OOXML/ODF)
        // ISO-BMFF (MP4/MOV/3GP): the ftyp box type at bytes 4-8 — the
        // first 4 bytes are the box SIZE, so the magic is mid-prefix
        .when(substring(h8, 9, 8) === "66747970", "mp4")
        .otherwise("unknown"))
  }

  final case class MetaAuditRow(doc_id: Long, kind: String,
    has_meta: Boolean, meta_kind: String)

  private val PngSig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A,
    0x0A).map(_.toByte)

  /** Classify one payload's embedded-metadata exposure. Walks the REAL
    * container structure (PNG chunk chain / JPEG marker segments / WebP
    * RIFF chunk list / GIF block+extension stream — the same from-spec
    * discipline as the decoders above). PNG/JPEG/ID3 walks cap at the
    * first 64 KiB — their metadata is header-resident by format design.
    * WebP and GIF are NOT capped: the WebP extended format places
    * EXIF/'XMP ' chunks AFTER the image data (container spec §Extended
    * file format) and GIF comment/XMP extensions may trail image
    * blocks, so a cap would misreport any real file whose pixel payload
    * exceeds the cap as corrupt; the full array is already in memory
    * and chunk-length skipping is O(#chunks), not O(bytes). Returns
    * (kind, has_meta, meta_kind) with meta_kind ∈ {exif, xmp, text,
    * none, corrupt} — exif outranks xmp outranks text when several
    * occur; a malformed chain reports corrupt WITHOUT claiming to know
    * what it carries. WebP metadata rides `EXIF`/`XMP ` chunks (WebP
    * Container Specification §Extended file format); GIF metadata rides
    * the comment extension (0x21 0xFE) and the `XMP DataXMP`
    * application extension (GIF89a spec §25 + Adobe XMP Part 3 §1.1.2).
    * The reference pipeline decodes crawled imagery via PIL/GDAL, which
    * strip these silently (label_maker_dask/utils.py:52) — auditing
    * them BEFORE the strip is the privacy gate's whole point. */
  def classifyMetadata(b: Array[Byte]): (String, Boolean, String) = {
    def be32(o: Int): Long =
      ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
        ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)
    def le32(o: Int): Long =
      (b(o) & 0xFFL) | ((b(o + 1) & 0xFFL) << 8) |
        ((b(o + 2) & 0xFFL) << 16) | ((b(o + 3) & 0xFFL) << 24)
    def s4(o: Int): String = new String(b, o, 4, "ISO-8859-1")
    val limit = if (b == null) 0 else math.min(b.length, 65536)
    val full = if (b == null) 0 else b.length // WebP/GIF walk uncapped
    if (b == null || limit < 4) return ("unknown", false, "none")
    if (limit >= 8 && b.take(8).sameElements(PngSig)) {
      var off = 8
      var exif = false
      var text = false
      while (off + 8 <= limit) {
        val clen = be32(off)
        val ctype = new String(b, off + 4, 4, "ISO-8859-1")
        if (clen < 0 || clen > Int.MaxValue - 12 - off)
          return ("png", false, "corrupt")
        ctype match {
          case "eXIf" => exif = true
          case "tEXt" | "iTXt" | "zTXt" => text = true
          case "IEND" =>
            return ("png",
              exif || text,
              if (exif) "exif" else if (text) "text" else "none")
          case _ => ()
        }
        off += 12 + clen.toInt
      }
      // chain ran past the cap/end without IEND: report what was SEEN,
      // but flag the walk as corrupt/truncated if nothing closed it
      if (exif) ("png", true, "exif")
      else if (text) ("png", true, "text")
      else ("png", false, "corrupt")
    } else if ((b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) {
      var off = 2
      var exif = false
      var text = false
      while (off + 2 <= limit && (b(off) & 0xFF) == 0xFF) {
        // JPEG permits runs of 0xFF fill bytes before a marker (ITU T.81
        // §B.1.1.2): advance so b(off + 1) is the first non-FF byte —
        // otherwise a padded-but-valid file misreads the fill byte's
        // successor as a marker and the two after it as a length
        while (off + 2 <= limit && (b(off + 1) & 0xFF) == 0xFF) off += 1
        if (off + 2 > limit)
          return ("jpeg", exif || text,
            if (exif) "exif" else if (text) "text" else "corrupt")
        val marker = b(off + 1) & 0xFF
        if (marker == 0xDA || marker == 0xD9)
          return ("jpeg", exif || text,
            if (exif) "exif" else if (text) "text" else "none")
        if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD7)) {
          off += 2 // standalone markers carry no length
        } else {
          if (off + 4 > limit) return ("jpeg", false, "corrupt")
          val seglen = (((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF))
          if (seglen < 2) return ("jpeg", false, "corrupt")
          if (marker == 0xE1 && seglen >= 8 && off + 10 <= limit &&
              new String(b, off + 4, 6, "ISO-8859-1") == "Exif\u0000\u0000")
            exif = true
          if (marker == 0xED || marker == 0xFE) text = true // IPTC / COM
          off += 2 + seglen
        }
      }
      if (exif) ("jpeg", true, "exif")
      else if (text) ("jpeg", true, "text")
      else ("jpeg", false, "corrupt")
    } else if (limit >= 12 && s4(0) == "RIFF" && s4(8) == "WEBP") {
      // WebP container: RIFF size then a flat chunk list — fourCC,
      // u32le payload length, payload padded to even. Metadata chunks
      // are EXIF and "XMP " (container spec, extended format).
      val declEnd = 8L + le32(4) // what the RIFF header claims the file spans
      val riffEnd = math.min(declEnd, full.toLong)
      var off = 12
      var exif = false
      var xmp = false
      while (off + 8 <= riffEnd) {
        val fourcc = s4(off)
        val clen = le32(off + 4)
        if (clen < 0 || clen > Int.MaxValue - 9 - off)
          return ("webp", exif || xmp,
            if (exif) "exif" else if (xmp) "xmp" else "corrupt")
        fourcc match {
          case "EXIF" => exif = true
          case "XMP " => xmp = true
          case _      => ()
        }
        off += 8 + clen.toInt + (clen.toInt & 1)
      }
      // RIFF has no trailer: the clean exit is walking exactly to the
      // DECLARED end with the whole declared span inside the payload. A
      // walk truncation cut short, or one that overshot the declared end
      // mid-chunk, reports what it SAW — corrupt/truncated only when it
      // saw nothing (the PNG-chain discipline above).
      if (declEnd <= full.toLong && off.toLong == declEnd)
        ("webp", exif || xmp,
          if (exif) "exif" else if (xmp) "xmp" else "none")
      else if (exif) ("webp", true, "exif")
      else if (xmp) ("webp", true, "xmp")
      else ("webp", false, "corrupt")
    } else if (limit >= 4 && s4(0) == "RIFF") {
      ("riff", false, "none") // WAV/AVI: no EXIF/XMP surface audited here
    } else if (limit >= 6 &&
        (new String(b, 0, 6, "ISO-8859-1") == "GIF87a" ||
          new String(b, 0, 6, "ISO-8859-1") == "GIF89a")) {
      // GIF89a stream: logical screen descriptor (+ optional global
      // color table), then blocks — 0x21 extensions (label + sub-block
      // chain), 0x2C image descriptors (+ optional local color table +
      // LZW sub-block chain), 0x3B trailer. Sub-block chain = length-
      // prefixed runs ended by a 0x00 block.
      if (limit < 13) return ("gif", false, "corrupt")
      var text = false
      var xmp = false
      def done(closed: Boolean): (String, Boolean, String) =
        if (xmp) ("gif", true, "xmp")
        else if (text) ("gif", true, "text")
        else if (closed) ("gif", false, "none")
        else ("gif", false, "corrupt")
      // returns the offset past the chain's 0x00 terminator, or -1 if
      // the chain overruns the payload
      def skipSubBlocks(start: Int): Int = {
        var o = start
        while (o < full) {
          val n = b(o) & 0xFF
          if (n == 0) return o + 1
          o += 1 + n
        }
        -1
      }
      val packed = b(10) & 0xFF
      var off = 13
      if ((packed & 0x80) != 0) off += 3 * (1 << ((packed & 7) + 1))
      while (off < full) {
        (b(off) & 0xFF) match {
          case 0x3B => return done(closed = true)
          case 0x21 =>
            if (off + 2 > full) return done(closed = false)
            val label = b(off + 1) & 0xFF
            if (label == 0xFE) text = true
            if (label == 0xFF && off + 14 <= full &&
                (b(off + 2) & 0xFF) == 11 &&
                new String(b, off + 3, 11, "ISO-8859-1") == "XMP DataXMP")
              xmp = true
            off = skipSubBlocks(off + 2)
            if (off < 0) return done(closed = false)
          case 0x2C =>
            if (off + 10 > full) return done(closed = false)
            val lp = b(off + 9) & 0xFF
            var o = off + 10
            if ((lp & 0x80) != 0) o += 3 * (1 << ((lp & 7) + 1))
            o += 1 // LZW minimum code size byte
            if (o > full) return done(closed = false)
            off = skipSubBlocks(o)
            if (off < 0) return done(closed = false)
          case _ => return done(closed = false) // unknown block type
        }
      }
      done(closed = false) // ran past cap/end without the 0x3B trailer
    } else if (limit >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      // ID3v2-tagged MPEG audio (id3.org spec): 10-byte header — "ID3",
      // version major/revision, flags, 4 SYNCSAFE size bytes — then a
      // frame chain. The privacy surface: PRIV frames (vendor purchase
      // watermarks, e.g. store account fingerprints), GEOB/APIC binary
      // objects, COMM/TXXX/T* text frames. v2.3/v2.4 frames carry
      // 4-char ids + 4-byte sizes (v2.4 syncsafe, v2.3 plain BE);
      // v2.2 carries 3-char ids + 3-byte sizes. Precedence:
      // priv > binary > text.
      val ver = b(3) & 0xFF
      if ((b(6) | b(7) | b(8) | b(9)) < 0 ||
          ((b(6) | b(7) | b(8) | b(9)) & 0x80) != 0)
        return ("mp3", false, "corrupt") // syncsafe bytes must be < 0x80
      val tagSize = ((b(6) & 0x7F) << 21) | ((b(7) & 0x7F) << 14) |
        ((b(8) & 0x7F) << 7) | (b(9) & 0x7F)
      val rawEnd = math.min(10L + tagSize, limit.toLong).toInt
      // Tag-level unsynchronisation (header flag byte 5 bit 7): v2.2/v2.3
      // apply 0xFF 0x00 stuffing across the WHOLE tag after assembly, and
      // frame sizes describe the PRE-stuffing data — so a raw-offset walk
      // over a stuffed tag misparses frame sizes. Strip the stuffing
      // (0xFF 0x00 → 0xFF) into a copy first and walk that. v2.4 moved
      // the scheme per-frame with STORED (post-stuffing) sizes and
      // syncsafe frame headers, so the raw walk stays offset-correct
      // there — no strip.
      val unsync = (b(5) & 0x80) != 0
      val (tag: Array[Byte], start: Int) =
        if (unsync && ver <= 3) {
          val out = new Array[Byte](math.max(0, rawEnd - 10))
          var i = 10
          var j = 0
          while (i < rawEnd) {
            out(j) = b(i)
            j += 1
            if ((b(i) & 0xFF) == 0xFF && i + 1 < rawEnd && b(i + 1) == 0)
              i += 2
            else i += 1
          }
          (java.util.Arrays.copyOf(out, j), 0)
        } else (b, 10)
      val end =
        if (unsync && ver <= 3) tag.length
        else rawEnd
      def tbe32(o: Int): Long =
        ((tag(o) & 0xFFL) << 24) | ((tag(o + 1) & 0xFFL) << 16) |
          ((tag(o + 2) & 0xFFL) << 8) | (tag(o + 3) & 0xFFL)
      var off = start
      // v2.3/v2.4 extended header (flag bit 6): its first 4 bytes are
      // its own size (syncsafe in v2.4, plain in v2.3) — skip it
      if (ver >= 3 && ((b(5) & 0x40) != 0) && off + 4 <= end) {
        val ehs =
          if (ver >= 4)
            ((tag(off) & 0x7F) << 21) | ((tag(off + 1) & 0x7F) << 14) |
              ((tag(off + 2) & 0x7F) << 7) | (tag(off + 3) & 0x7F)
          else tbe32(off).toInt + 4 // v2.3 size EXCLUDES its own 4 bytes
        if (ehs < 4 || ehs > end - off) return ("mp3", false, "corrupt")
        off += ehs
      }
      var priv = false
      var bin = false
      var text = false
      def verdict(ok: Boolean): (String, Boolean, String) =
        if (priv) ("mp3", true, "priv")
        else if (bin) ("mp3", true, "binary")
        else if (text) ("mp3", true, "text")
        else if (ok) ("mp3", false, "none")
        else ("mp3", false, "corrupt")
      val hdrLen = if (ver >= 3) 10 else 6
      while (off + hdrLen <= end) {
        if (tag(off) == 0) return verdict(ok = true) // padding ends the chain
        if (ver >= 3) {
          val id = new String(tag, off, 4, "ISO-8859-1")
          val fs =
            if (ver >= 4)
              ((tag(off + 4) & 0x7F) << 21) | ((tag(off + 5) & 0x7F) << 14) |
                ((tag(off + 6) & 0x7F) << 7) | (tag(off + 7) & 0x7F)
            else tbe32(off + 4)
          if (fs < 0 || fs > end - off - 10) return verdict(ok = false)
          id match {
            case "PRIV"          => priv = true
            case "APIC" | "GEOB" => bin = true
            case _ if id.head == 'T' || id == "COMM" => text = true
            case _               => ()
          }
          off += 10 + fs.toInt
        } else {
          val id = new String(tag, off, 3, "ISO-8859-1")
          val fs = ((tag(off + 3) & 0xFF) << 16) |
            ((tag(off + 4) & 0xFF) << 8) | (tag(off + 5) & 0xFF)
          if (fs < 0 || fs > end - off - 6) return verdict(ok = false)
          id match {
            case "PIC" | "GEO"                       => bin = true
            case _ if id.head == 'T' || id == "COM"  => text = true
            case _                                   => ()
          }
          off += 6 + fs
        }
      }
      // reached the declared tag end (or the cap): a cleanly-walked tag
      // with no metadata frames is "none" only when the whole declared
      // tag fit under the cap — the WebP/PNG truncation discipline
      verdict(ok = 10L + tagSize <= limit.toLong)
    } else if (limit >= 12 && s4(4) == "ftyp") {
      // ISO-BMFF / MP4 (ISO/IEC 14496-12 §4.2): a file is a box
      // sequence — u32 BE size + fourCC (+ u64 largesize when size = 1;
      // size = 0 means the box runs to the end of its container). The
      // crawled-video privacy surface: the QuickTime/3GPP GPS boxes
      // ('©xyz' location string, 'loci') under moov/udta, XMP riding a
      // uuid box with the fixed XMP UUID (Adobe XMP Part 3 §1.2.5) at
      // top level or inside moov, and iTunes-style ilst/©-tag text
      // under moov/udta/meta. moov commonly sits AFTER mdat in
      // non-faststart files, so the walk skips mdat by declared size —
      // O(#boxes), not O(bytes) — and runs to the END of the payload
      // (the WebP/GIF uncapped discipline). A size overrunning the
      // buffer reports what was SEEN; corrupt only when it saw nothing.
      val xmpUuid = Array(0xBE, 0x7A, 0xCF, 0xCB, 0x97, 0xA9, 0x42, 0xE8,
        0x9C, 0x71, 0x99, 0x94, 0x91, 0xE3, 0xAF, 0xAC).map(_.toByte)
      var gps = false
      var xmp = false
      var text = false
      // walks the box children of [start, end); true iff the chain
      // consumed EXACTLY the region (the clean-exit contract)
      def walk(start: Long, end: Long, depth: Int): Boolean = {
        var off = start
        while (off + 8 <= end) {
          val sz0 = be32(off.toInt)
          val typ = s4(off.toInt + 4)
          var hdr = 8L
          val boxEnd: Long =
            if (sz0 == 1L) {
              if (off + 16 > end) return false
              hdr = 16L
              val sz = (be32(off.toInt + 8) << 32) | be32(off.toInt + 12)
              if (sz < hdr) return false
              off + sz
            } else if (sz0 == 0L) end // last box: runs to container end
            else {
              if (sz0 < 8L) return false
              off + sz0
            }
          if (boxEnd > end) {
            // truncated mid-box: the verdict is corrupt, but a cut
            // CONTAINER still gets its surviving children walked so
            // metadata seen before the cut is reported (the GIF/WebP
            // report-what-it-saw discipline)
            typ match {
              case "moov" | "udta" | "trak" if depth < 8 =>
                walk(off + hdr, end, depth + 1)
              case "meta" if depth < 8 && end - off - hdr >= 4 =>
                walk(off + hdr + 4, end, depth + 1)
              case _ => ()
            }
            return false
          }
          typ match {
            case "moov" | "udta" | "trak" if depth < 8 =>
              if (!walk(off + hdr, boxEnd, depth + 1)) return false
            case "meta" if depth < 8 =>
              // meta is a FULL box: 4 version/flags bytes, then children
              if (boxEnd - off - hdr < 4) return false
              if (!walk(off + hdr + 4, boxEnd, depth + 1)) return false
            case "ilst"           => text = true // iTunes tag list
            case "\u00A9xyz"     => gps = true // GPS location string
            case "loci"           => gps = true  // 3GPP location info
            case t if t.nonEmpty && (t.head & 0xFF) == 0xA9 =>
              text = true // other ©-tags (©nam/©cmt/©too ...)
            case "uuid" =>
              if (boxEnd - off - hdr >= 16 &&
                  java.util.Arrays.equals(java.util.Arrays.copyOfRange(
                    b, (off + hdr).toInt, (off + hdr + 16).toInt), xmpUuid))
                xmp = true
            case _ => () // ftyp/free/mdat/mvhd/...: skip by size
          }
          off = boxEnd
        }
        off == end
      }
      val clean = walk(0L, full.toLong, 0)
      if (gps) ("mp4", true, "gps")
      else if (xmp) ("mp4", true, "xmp")
      else if (text) ("mp4", true, "text")
      else if (clean) ("mp4", false, "none")
      else ("mp4", false, "corrupt")
    } else if (limit >= 8 && s4(0) == "fLaC") {
      // FLAC (xiph.org format spec): "fLaC" then a metadata-block chain —
      // 1-byte header (bit 7 = last-block flag, bits 0-6 = type) + BE24
      // length + payload — then audio frames. Header-resident by design,
      // so the 64 KiB cap applies (the PNG/JPEG/ID3 class). The privacy
      // surface: VORBIS_COMMENT blocks (type 4 — artist/location/custom
      // text tags; parsed to the user-comment COUNT, a zero-comment
      // block is clean), PICTURE (6) and APPLICATION (2) binary blocks.
      // Precedence binary > text (the ID3 APIC discipline).
      var off = 4
      var bin = false
      var text = false
      var last = false
      var broken = false
      while (!last && !broken && off + 4 <= limit) {
        val hdr = b(off) & 0xFF
        last = (hdr & 0x80) != 0
        val btype = hdr & 0x7F
        val blen = ((b(off + 1) & 0xFF) << 16) | ((b(off + 2) & 0xFF) << 8) |
          (b(off + 3) & 0xFF)
        if (btype == 127) broken = true // forbidden type (spec)
        else {
          btype match {
            case 4 =>
              // u32le vendor length + vendor string + u32le comment count
              val p = off + 4L
              val bend = math.min(p + blen, limit.toLong)
              if (p + 4 > bend) broken = true
              else {
                val vl = le32(p.toInt)
                val cntOff = p + 4 + vl
                if (vl < 0 || cntOff + 4 > bend) broken = true
                else if (le32(cntOff.toInt) != 0) text = true
              }
            case 2 | 6 => bin = true // APPLICATION / PICTURE
            case _     => ()
          }
          off += 4 + blen
        }
      }
      // clean exit = the last-block flag was reached with every block
      // HEADER inside the cap (block payloads past the cap are fine —
      // only types/lengths are read); otherwise report what was seen
      if (bin) ("flac", true, "binary")
      else if (text) ("flac", true, "text")
      else if (last && !broken) ("flac", false, "none")
      else ("flac", false, "corrupt")
    } else if (limit >= 27 && s4(0) == "OggS") {
      // OGG container (RFC 3533): "OggS" pages — 27-byte header
      // (version, header-type flags, granule, serial, sequence, CRC,
      // segment count) + segment table + payload. The metadata packet is
      // the VorbisComment: "vorbis" (Vorbis comment header) or
      // "OpusTags" (Opus) at a fresh packet boundary — vendor string +
      // user-comment list, parsed to the COUNT. Header-resident (the
      // comment header rides the first pages), so the 64 KiB cap
      // applies. A comment packet whose count field spans out of its
      // page is reported corrupt rather than guessed.
      var off = 0
      var cnt = -1L // -1 = no comment packet seen
      var broken = false
      var done = false
      while (!done && !broken && off + 27 <= limit) {
        if (s4(off) != "OggS" || (b(off + 4) & 0xFF) != 0) broken = true
        else {
          val nsegs = b(off + 26) & 0xFF
          if (off + 27 + nsegs > limit) { done = true } // cap mid-header
          else {
            var plen = 0
            var i = 0
            while (i < nsegs) { plen += b(off + 27 + i) & 0xFF; i += 1 }
            val pstart = off + 27 + nsegs
            val pend = pstart + plen
            if (pend > limit) done = true // cap mid-payload
            else {
              val fresh = (b(off + 5) & 0x01) == 0 // not a continuation
              if (fresh && cnt < 0) {
                val isVorbis = plen >= 11 && (b(pstart) & 0xFF) == 3 &&
                  new String(b, pstart + 1, 6, "ISO-8859-1") == "vorbis"
                val isOpus = plen >= 12 &&
                  new String(b, pstart, 8, "ISO-8859-1") == "OpusTags"
                if (isVorbis || isOpus) {
                  val q = pstart + (if (isVorbis) 7 else 8)
                  if (q + 4 > pend) broken = true
                  else {
                    val vl = le32(q)
                    val cntOff = q + 4 + vl
                    if (vl < 0 || cntOff + 4 > pend) broken = true
                    else cnt = le32(cntOff.toInt)
                  }
                }
              }
              off = pend
            }
          }
        }
      }
      if (cnt > 0) ("ogg", true, "text")
      else if (broken) ("ogg", false, "corrupt")
      else if (cnt == 0) ("ogg", false, "none") // explicit empty tag list
      else if (off == full) ("ogg", false, "none") // whole file, no tags
      else ("ogg", false, "corrupt") // cap-truncated before any verdict
    } else if (limit >= 8 && new String(b, 0, 5, "ISO-8859-1") == "%PDF-") {
      // PDF (ISO 32000): the two metadata surfaces a crawled-document
      // lake audits are the /Info dictionary (Author/Creator/Producer —
      // the classic author-name disclosure) and the XMP metadata
      // stream. The /Info REFERENCE lives in plain text in the trailer:
      // classic files keep a `trailer << ... >>` dict after the xref
      // TABLE; 1.5+ files keep the same keys in the xref STREAM's dict
      // at the `startxref` offset — either way no decompression is
      // needed to see the key. Incremental updates chain via /Prev
      // (bounded hops). XMP is found by the packet marker scan that
      // XMP Part 3 §Scanning explicitly sanctions for any format.
      // Precedence xmp > text (the GIF convention).
      def idx(hay: Array[Byte], from: Int, to: Int,
          needle: Array[Byte]): Int = {
        var i = math.max(0, from)
        val end = math.min(to, hay.length) - needle.length
        while (i <= end) {
          var j = 0
          while (j < needle.length && hay(i + j) == needle(j)) j += 1
          if (j == needle.length) return i
          i += 1
        }
        -1
      }
      def lastIdx(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
        var best = -1
        var i = idx(hay, from, hay.length, needle)
        while (i >= 0) {
          best = i
          i = idx(hay, i + 1, hay.length, needle)
        }
        best
      }
      val xmp = idx(b, 0, full, "<?xpacket begin=".getBytes("ISO-8859-1")) >= 0
      var info = false
      var ok = true
      // trailer chain: last `startxref` in the final 2 KiB names the
      // ACTIVE xref section; /Prev links to prior sections (bounded)
      val sx = lastIdx(b, "startxref".getBytes("ISO-8859-1"),
        math.max(0, full - 2048))
      if (sx < 0) ok = false
      else {
        // parse the offset integer on the following line
        var p = sx + 9
        while (p < full && (b(p) == '\r' || b(p) == '\n' || b(p) == ' '))
          p += 1
        var off = 0L
        var digits = 0
        while (p < full && b(p) >= '0' && b(p) <= '9' && digits < 15) {
          off = off * 10 + (b(p) - '0'); p += 1; digits += 1
        }
        if (digits == 0) ok = false
        var hops = 0
        var cur = off
        while (ok && cur >= 0 && hops < 8) {
          hops += 1
          if (cur + 4 > full) { ok = false }
          else {
            // dict start: after `xref` + table it follows `trailer`;
            // at an xref-stream object it follows the `N 0 obj` header
            val isTable = b(cur.toInt) == 'x' && b(cur.toInt + 1) == 'r' &&
              b(cur.toInt + 2) == 'e' && b(cur.toInt + 3) == 'f'
            val dictAnchor =
              if (isTable)
                idx(b, cur.toInt, full, "trailer".getBytes("ISO-8859-1"))
              else cur.toInt
            val ds = if (dictAnchor < 0) -1
              else idx(b, dictAnchor, math.min(full.toLong,
                dictAnchor + 512L).toInt + 2, "<<".getBytes("ISO-8859-1"))
            if (ds < 0) ok = false
            else {
              // balanced << >> scan, capped: the dict TEXT carries the
              // keys; nested dicts counted, never decompressed
              var q = ds + 2
              var depth = 1
              val cap = math.min(full.toLong, ds + 65536L).toInt
              while (depth > 0 && q + 1 < cap) {
                if (b(q) == '<' && b(q + 1) == '<') { depth += 1; q += 2 }
                else if (b(q) == '>' && b(q + 1) == '>') { depth -= 1; q += 2 }
                else q += 1
              }
              if (depth != 0) ok = false
              else {
                val dict = new String(b, ds, q - ds, "ISO-8859-1")
                // name-boundary check: "/Info" must not match "/InfoX"
                def hasKey(k: String): Boolean = {
                  var i0 = dict.indexOf(k)
                  while (i0 >= 0) {
                    val after = i0 + k.length
                    if (after >= dict.length ||
                        !Character.isLetterOrDigit(dict.charAt(after)))
                      return true
                    i0 = dict.indexOf(k, i0 + 1)
                  }
                  false
                }
                if (hasKey("/Info")) info = true
                val pv = dict.indexOf("/Prev")
                cur =
                  if (pv < 0) -1L
                  else {
                    var r = ds + pv + 5
                    while (r < full && (b(r) == ' ' || b(r) == '\r' ||
                      b(r) == '\n')) r += 1
                    var v = 0L
                    var dg = 0
                    while (r < full && b(r) >= '0' && b(r) <= '9' &&
                        dg < 15) {
                      v = v * 10 + (b(r) - '0'); r += 1; dg += 1
                    }
                    if (dg == 0) { ok = false; -1L } else v
                  }
              }
            }
          }
        }
      }
      if (xmp) ("pdf", true, "xmp")
      else if (info) ("pdf", true, "text")
      else if (ok) ("pdf", false, "none")
      else ("pdf", false, "corrupt")
    } else if (limit >= 22 && b(0) == 'P' && b(1) == 'K' &&
        (b(2) & 0xFF) == 3 && (b(3) & 0xFF) == 4) {
      // ZIP (PKWARE APPNOTE) — the OOXML/ODF document container
      // (docx/xlsx/pptx/odt are ZIPs; the top crawled-document format
      // after PDF/HTML): the authoritative index is the END OF CENTRAL
      // DIRECTORY record (PK\x05\x06, in the final 64 KiB + 22 bytes —
      // it trails a variable comment), which names the central
      // directory's offset and entry count; each central header
      // (PK\x01\x02, 46 fixed bytes + name/extra/comment) carries the
      // entry NAME. The privacy surface is the OOXML/ODF metadata
      // PART NAMES: docProps/core.xml (dc:creator, lastModifiedBy) and
      // docProps/app.xml (Company) in OOXML, meta.xml in ODF — their
      // PRESENCE is the audit signal, no deflate needed. Entry count
      // capped (65 535, the classic-ZIP format bound); ZIP64 (count or
      // offset 0xFFFF.../0xFFFFFFFF sentinels) reports honestly as
      // corrupt/unknown rather than mis-walking.
      var text = false
      var ok = true
      // EOCD scan: last occurrence of the magic in the tail window
      var eocd = -1
      var i0 = full - 22
      val lo = math.max(0, full - 22 - 65535)
      while (eocd < 0 && i0 >= lo) {
        if (b(i0) == 'P' && b(i0 + 1) == 'K' && (b(i0 + 2) & 0xFF) == 5 &&
          (b(i0 + 3) & 0xFF) == 6) eocd = i0
        else i0 -= 1
      }
      if (eocd < 0) ok = false
      else {
        val n = (b(eocd + 10) & 0xFF) | ((b(eocd + 11) & 0xFF) << 8)
        val cdOff = le32(eocd + 16)
        if (n == 0xFFFF || cdOff == 0xFFFFFFFFL) ok = false // ZIP64
        else {
          var off = cdOff
          var k = 0
          while (ok && k < n) {
            if (off + 46 > full || b(off.toInt) != 'P' ||
                b(off.toInt + 1) != 'K' || (b(off.toInt + 2) & 0xFF) != 1 ||
                (b(off.toInt + 3) & 0xFF) != 2) ok = false
            else {
              val o = off.toInt
              val nameLen = (b(o + 28) & 0xFF) | ((b(o + 29) & 0xFF) << 8)
              val extraLen = (b(o + 30) & 0xFF) | ((b(o + 31) & 0xFF) << 8)
              val cmtLen = (b(o + 32) & 0xFF) | ((b(o + 33) & 0xFF) << 8)
              if (o + 46 + nameLen > full) ok = false
              else {
                val name = new String(b, o + 46, nameLen, "ISO-8859-1")
                if (name == "docProps/core.xml" ||
                    name == "docProps/app.xml" || name == "meta.xml")
                  text = true
                off += 46L + nameLen + extraLen + cmtLen
              }
            }
            k += 1
          }
        }
      }
      if (text) ("zip", true, "text")
      else if (ok) ("zip", false, "none")
      else ("zip", false, "corrupt")
    } else if (limit >= 8 &&
        ((b(0) == 'I' && b(1) == 'I' &&
          ((b(2) & 0xFF) == 42 || (b(2) & 0xFF) == 43) && b(3) == 0) ||
         (b(0) == 'M' && b(1) == 'M' && b(2) == 0 &&
          ((b(3) & 0xFF) == 42 || (b(3) & 0xFF) == 43)))) {
      // TIFF / BigTIFF (TIFF 6.0 spec + the BigTIFF extension): "II"/"MM"
      // byte order, version 42 (classic: u32 IFD offset at 4) or 43
      // (BigTIFF: u16 offset-size = 8, u16 pad = 0, u64 IFD offset at 8),
      // then a chain of IFDs — entry count, fixed-size tag entries
      // (12/20 bytes), next-IFD offset. The crawled-raster privacy
      // surface is TAG PRESENCE in the chain: the GPS IFD pointer
      // (34853) and EXIF IFD pointer (34665), the XMP packet tag (700),
      // and the Artist/ImageDescription/Copyright text tags
      // (315/270/33432). IFDs routinely live at EOF (COG overview
      // chains), so the walk is uncapped like MP4 — O(#entries) index
      // hops, not a byte scan. Precedence gps > exif > xmp > text.
      val le = b(0) == 'I'
      def u16(o: Int): Int =
        if (le) (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
        else ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)
      def u32(o: Int): Long = if (le) le32(o) else be32(o)
      def u64(o: Int): Long =
        if (le) le32(o) | (le32(o + 4) << 32)
        else (be32(o) << 32) | be32(o + 4)
      val big = (if (le) b(2) else b(3)) == 43
      var gps = false
      var exif = false
      var xmp = false
      var text = false
      var ok = true
      var done = false
      var ifdOff: Long =
        if (!big) u32(4)
        else if (full >= 16 && u16(4) == 8 && u16(6) == 0) u64(8)
        else { ok = false; done = true; 0L }
      val seen = scala.collection.mutable.HashSet.empty[Long]
      val hdrSz = if (big) 8 else 2
      val entSz = if (big) 20 else 12
      val nextSz = if (big) 8 else 4
      while (!done) {
        if (ifdOff == 0) done = true // clean end of the IFD chain
        else if (!seen.add(ifdOff) || seen.size > 64) {
          ok = false; done = true // cycle / absurd chain: corrupt
        } else if (ifdOff < 0 || ifdOff + hdrSz > full) {
          ok = false; done = true // chain points past the buffer
        } else {
          val n: Long =
            if (big) u64(ifdOff.toInt) else u16(ifdOff.toInt).toLong
          val base = ifdOff + hdrSz
          if (n < 0 || n > 65535 || base + n * entSz + nextSz > full) {
            ok = false; done = true // entry table truncated
          } else {
            var i = 0L
            while (i < n) {
              u16((base + i * entSz).toInt) match {
                case 34853            => gps = true  // GPS IFD pointer
                case 34665            => exif = true // EXIF IFD pointer
                case 700              => xmp = true  // XMP packet
                case 270 | 315 | 33432 => text = true // descr/artist/©
                case _                => ()
              }
              i += 1
            }
            ifdOff =
              if (big) u64((base + n * entSz).toInt)
              else u32((base + n * entSz).toInt)
          }
        }
      }
      if (gps) ("tiff", true, "gps")
      else if (exif) ("tiff", true, "exif")
      else if (xmp) ("tiff", true, "xmp")
      else if (text) ("tiff", true, "text")
      else if (ok) ("tiff", false, "none")
      else ("tiff", false, "corrupt")
    } else ("unknown", false, "none")
  }

  /** Embedded-metadata (EXIF/IPTC/text-chunk) audit — the privacy gate a
    * crawled-media corpus runs BEFORE training: camera EXIF blocks carry
    * GPS positions and serial numbers, PNG text chunks carry
    * author/tool strings; a "stripped" corpus with one unstripped shard
    * is a disclosure incident. One row per payload (doc_id, kind,
    * has_meta, meta_kind) from [[classifyMetadata]]'s real header walk —
    * a typed map (SerializeFromObject), not a UDF, so the hot path stays
    * inside Tungsten serialization.
    *
    * Scale shape: one per-row container walk (PNG/JPEG/ID3 capped at
    * 64 KiB — header-resident metadata; WebP/GIF walk the full payload
    * by chunk-length skips, O(#chunks)), no shuffle;
    * whatever aggregation follows is the caller's. */
  def metadataAudit(df: DataFrame, idCol: String, binaryCol: String)
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binaryCol))
      .as[(Long, Array[Byte])]
      .map { t =>
        val (kind, has, mk) = classifyMetadata(t._2)
        MetaAuditRow(t._1, kind, has, mk)
      }.toDF()
  }
}
