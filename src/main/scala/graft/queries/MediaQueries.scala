package graft.queries

import graft.streaming.{EventStream, Replay}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal binary-column plumbing + the streaming windowed aggregation,
  * both verified against the DuckDB oracle. */
object MediaQueries {
  import Relational.{hex52, t}

  /** ev → d → g: each event's session id `sid` per user, a new session
    * after a gap of more than 30 minutes; the oracle of
    * `EventStream.sessionize`. No trailing comma. */
  private def gapSessionCtes: String =
    """ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |d AS (SELECT user_id, us,
      |  CASE WHEN LAG(us) OVER w IS NULL
      |         OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
      | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us)),
      |g AS (SELECT user_id, us,
      |  SUM(brk) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
      | FROM d)""".stripMargin

  private def hexv(c: Column): Column = instr(lit("0123456789abcdef"), c) - 1

  val queries: Seq[Query] = Seq(
    // Binary media columns: text -> utf8 binary payload; byte length plus
    // md5-derived deterministic "decoded" dimensions and a resize target
    // (the cross-engine-checkable skeleton of the image-meta pipeline;
    // the real PNG/JPEG decode path is Multimodal.withImageMeta).
    Query("qm01_binary_meta", Some(
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS INT) AS byte_len,
        | CAST((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
        |   + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1) + 16 AS INT) AS width,
        | CAST((instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
        |   + (instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1) + 16 AS INT) AS height,
        | CAST(((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
        |   + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1) + 16) // 2 AS INT) AS resize_w,
        | CAST(((instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
        |   + (instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1) + 16) // 2 AS INT) AS resize_h
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)) { (s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 200)
        .withColumn("media", encode(col("text"), "UTF-8"))
        .withColumn("h", md5(col("media")))
        .select(
          col("doc_id"),
          length(col("media")).as("byte_len"),
          (hexv(substring(col("h"), 1, 1)) * 16 + hexv(substring(col("h"), 2, 1)) + lit(16)).cast("int").as("width"),
          (hexv(substring(col("h"), 3, 1)) * 16 + hexv(substring(col("h"), 4, 1)) + lit(16)).cast("int").as("height"))
        .withColumn("resize_w", (col("width") / 2).cast("int"))
        .withColumn("resize_h", (col("height") / 2).cast("int"))
        .orderBy("doc_id")
    },
    // Content-type sniffing dispatch: magic-number classification of
    // binary payloads (deterministically injected headers by doc_id % 5)
    // — the pre-decoder routing step, oracle-checked byte for byte.
    Query("qm04_content_sniff", Some(
      """WITH m AS (SELECT doc_id,
        |    (CASE doc_id % 5
        |      WHEN 0 THEN '\x89PNG\x0D\x0A\x1A\x0A'::BLOB
        |      WHEN 1 THEN '\xFF\xD8\xFF'::BLOB
        |      WHEN 2 THEN 'GIF89a'::BLOB
        |      WHEN 3 THEN 'RIFF'::BLOB
        |      ELSE ''::BLOB END) || encode(text) AS media
        |  FROM documents),
        |c AS (SELECT media,
        |    CASE WHEN hex(media) LIKE '89504E470D0A1A0A%' THEN 'png'
        |      WHEN hex(media) LIKE 'FFD8FF%' THEN 'jpeg'
        |      WHEN hex(media) LIKE '47494638%' THEN 'gif'
        |      WHEN hex(media) LIKE '52494646%' THEN 'riff'
        |      WHEN hex(media) LIKE '255044462D%' THEN 'pdf'
        |      WHEN hex(media) LIKE '494433%' THEN 'mp3'
        |      WHEN hex(media) LIKE '664C6143%' THEN 'flac'
        |      WHEN hex(media) LIKE '4F676753%' THEN 'ogg'
        |      WHEN hex(media) LIKE '49492A00%' OR hex(media) LIKE '49492B00%'
        |        OR hex(media) LIKE '4D4D002A%' OR hex(media) LIKE '4D4D002B%'
        |        THEN 'tiff'
        |      WHEN hex(media) LIKE '504B0304%' THEN 'zip'
        |      WHEN substr(hex(media), 9, 8) = '66747970' THEN 'mp4'
        |      ELSE 'unknown' END AS content_type
        |  FROM m)
        |SELECT content_type, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(octet_length(media)) AS BIGINT) AS total_bytes
        |FROM c GROUP BY content_type ORDER BY content_type""".stripMargin)) { (s, d) =>
      val pfx = when(col("doc_id") % 5 === 0,
          lit(Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A,
            0x1A, 0x0A)))
        .when(col("doc_id") % 5 === 1,
          lit(Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte)))
        .when(col("doc_id") % 5 === 2, lit("GIF89a".getBytes("UTF-8")))
        .when(col("doc_id") % 5 === 3, lit("RIFF".getBytes("UTF-8")))
        .otherwise(lit(Array.empty[Byte]))
      val docs = t(s, d, "documents")
        .withColumn("media", concat(pfx, encode(col("text"), "UTF-8")))
      graft.multimodal.Multimodal.sniffContentType(docs, "media")
        .groupBy("content_type")
        .agg(count(lit(1)).as("n_items"),
          sum(length(col("media"))).as("total_bytes"))
        .orderBy("content_type")
    },
    // Embedded-metadata privacy audit: REAL PNG-chunk / JPEG-marker
    // header walks over deterministically injected payloads (doc_id % 5)
    // — EXIF blocks carry GPS; one unstripped shard is an incident.
    Query("qm05_exif_audit", Some(
      """WITH m AS (SELECT doc_id,
        |    CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'png'
        |      WHEN 2 THEN 'jpeg' WHEN 3 THEN 'jpeg'
        |      ELSE 'unknown' END AS kind,
        |    (doc_id % 5 = 0 OR doc_id % 5 = 2) AS has_meta,
        |    CASE WHEN doc_id % 5 = 0 OR doc_id % 5 = 2 THEN 'exif'
        |      ELSE 'none' END AS meta_kind
        |  FROM documents)
        |SELECT kind, has_meta, meta_kind,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM m GROUP BY 1, 2, 3 ORDER BY kind, meta_kind""".stripMargin)) { (s, d) =>
      def chunk(t: String, data: Array[Byte]): Array[Byte] = {
        val len = data.length
        Array[Byte](((len >> 24) & 0xFF).toByte, ((len >> 16) & 0xFF).toByte,
          ((len >> 8) & 0xFF).toByte, (len & 0xFF).toByte) ++
          t.getBytes("ISO-8859-1") ++ data ++ Array[Byte](0, 0, 0, 0)
      }
      val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
        .map(_.toByte)
      val pngExif = sig ++ chunk("eXIf", Array[Byte](1, 2, 3, 4)) ++
        chunk("IEND", Array.emptyByteArray)
      val pngClean = sig ++ chunk("IEND", Array.emptyByteArray)
      val jpegExif = Array(0xFF, 0xD8, 0xFF, 0xE1, 0x00, 0x08).map(_.toByte) ++
        "Exif\u0000\u0000".getBytes("ISO-8859-1") ++
        Array(0xFF, 0xDA).map(_.toByte)
      val jpegClean = Array(0xFF, 0xD8, 0xFF, 0xDA).map(_.toByte)
      val media = when(col("doc_id") % 5 === 0, lit(pngExif))
        .when(col("doc_id") % 5 === 1, lit(pngClean))
        .when(col("doc_id") % 5 === 2, lit(jpegExif))
        .when(col("doc_id") % 5 === 3, lit(jpegClean))
        .otherwise(lit("notmedia".getBytes("UTF-8")))
      val docs = t(s, d, "documents").withColumn("media", media)
      graft.multimodal.Multimodal.metadataAudit(docs, "doc_id", "media")
        .groupBy("kind", "has_meta", "meta_kind")
        .agg(count(lit(1)).as("n_items"))
        .orderBy("kind", "meta_kind")
    },
    // The qm05 privacy walk extended to the two crawled-media container
    // formats qm04 sniffs but qm05 could not audit: WebP EXIF/"XMP "
    // RIFF chunks and GIF comment/XMP-application extensions, over
    // deterministically injected REAL container bytes (doc_id % 6).
    Query("qm06_webp_gif_meta", Some(
      """WITH m AS (SELECT doc_id,
        |    CASE WHEN doc_id % 6 <= 2 THEN 'webp' ELSE 'gif' END AS kind,
        |    doc_id % 6 IN (0, 1, 3, 4) AS has_meta,
        |    CASE doc_id % 6 WHEN 0 THEN 'exif' WHEN 1 THEN 'xmp'
        |      WHEN 3 THEN 'text' WHEN 4 THEN 'xmp'
        |      ELSE 'none' END AS meta_kind
        |  FROM documents)
        |SELECT kind, has_meta, meta_kind,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM m GROUP BY 1, 2, 3 ORDER BY kind, meta_kind""".stripMargin)) { (s, d) =>
      def rchunk(cc: String, data: Array[Byte]): Array[Byte] = {
        val len = data.length
        cc.getBytes("ISO-8859-1") ++
          Array[Byte]((len & 0xFF).toByte, ((len >> 8) & 0xFF).toByte,
            ((len >> 16) & 0xFF).toByte, ((len >> 24) & 0xFF).toByte) ++
          data ++
          (if ((len & 1) == 1) Array[Byte](0) else Array.emptyByteArray)
      }
      def webp(chunks: Array[Byte]*): Array[Byte] = {
        val body = "WEBP".getBytes("ISO-8859-1") ++ chunks.flatten
        val sz = body.length
        "RIFF".getBytes("ISO-8859-1") ++
          Array[Byte]((sz & 0xFF).toByte, ((sz >> 8) & 0xFF).toByte,
            ((sz >> 16) & 0xFF).toByte, ((sz >> 24) & 0xFF).toByte) ++ body
      }
      // 5-byte VP8L stub: odd length exercises the even-pad rule
      val vp8l = rchunk("VP8L", Array[Byte](0x2F, 0, 0, 0, 0))
      val webpExif = webp(vp8l, rchunk("EXIF", Array[Byte](1, 2, 3, 4)))
      val webpXmp = webp(vp8l, rchunk("XMP ", "<x/>".getBytes("ISO-8859-1")))
      val webpClean = webp(vp8l)
      val gifHdr = "GIF89a".getBytes("ISO-8859-1") ++
        Array[Byte](1, 0, 1, 0, 0, 0, 0) // 1x1 screen, no color table
      val gifComment = gifHdr ++ Array[Byte](0x21, 0xFE.toByte, 5) ++
        "hello".getBytes("ISO-8859-1") ++ Array[Byte](0, 0x3B)
      val gifXmp = gifHdr ++ Array[Byte](0x21, 0xFF.toByte, 11) ++
        "XMP DataXMP".getBytes("ISO-8859-1") ++ Array[Byte](4) ++
        "<x/>".getBytes("ISO-8859-1") ++ Array[Byte](0, 0x3B)
      val gifClean = gifHdr ++ Array[Byte](0x3B)
      val media = when(col("doc_id") % 6 === 0, lit(webpExif))
        .when(col("doc_id") % 6 === 1, lit(webpXmp))
        .when(col("doc_id") % 6 === 2, lit(webpClean))
        .when(col("doc_id") % 6 === 3, lit(gifComment))
        .when(col("doc_id") % 6 === 4, lit(gifXmp))
        .otherwise(lit(gifClean))
      val docs = t(s, d, "documents").withColumn("media", media)
      graft.multimodal.Multimodal.metadataAudit(docs, "doc_id", "media")
        .groupBy("kind", "has_meta", "meta_kind")
        .agg(count(lit(1)).as("n_items"))
        .orderBy("kind", "meta_kind")
    },
    // The qm05/qm06 privacy walk extended to ID3v2-tagged MPEG audio:
    // REAL tag headers with syncsafe sizes and frame chains injected by
    // doc_id % 4 — PRIV frames (vendor purchase watermarks) are the
    // canonical MP3 disclosure; v2.2 3-byte frames walked too.
    Query("qm07_id3_meta", Some(
      """WITH m AS (SELECT doc_id, 'mp3' AS kind,
        |    doc_id % 4 <> 2 AS has_meta,
        |    CASE doc_id % 4 WHEN 0 THEN 'priv' WHEN 1 THEN 'text'
        |      WHEN 2 THEN 'none' ELSE 'text' END AS meta_kind
        |  FROM documents)
        |SELECT kind, has_meta, meta_kind,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM m GROUP BY 1, 2, 3 ORDER BY kind, meta_kind""".stripMargin)) { (s, d) =>
      def syncsafe(n: Int): Array[Byte] = Array(
        ((n >> 21) & 0x7F).toByte, ((n >> 14) & 0x7F).toByte,
        ((n >> 7) & 0x7F).toByte, (n & 0x7F).toByte)
      def frame34(id: String, data: Array[Byte]): Array[Byte] =
        id.getBytes("ISO-8859-1") ++ Array[Byte](0, 0,
          ((data.length >> 8) & 0xFF).toByte, (data.length & 0xFF).toByte,
          0, 0) ++ data
      def tag3(frames: Array[Byte]*): Array[Byte] = {
        val body = frames.flatten.toArray
        "ID3".getBytes("ISO-8859-1") ++ Array[Byte](3, 0, 0) ++
          syncsafe(body.length) ++ body
      }
      val mp3Priv = tag3(frame34("PRIV", "acme.example\u0000u123".getBytes("ISO-8859-1")))
      val mp3Comm = tag3(frame34("COMM", "engdescr".getBytes("ISO-8859-1")))
      val mp3Clean = tag3() // empty tag: declared size 0, clean walk
      // v2.2: 3-char ids, 3-byte big-endian sizes, version byte 2
      val com22 = "COM".getBytes("ISO-8859-1") ++
        Array[Byte](0, 0, 4) ++ "note".getBytes("ISO-8859-1")
      val mp3V22 = "ID3".getBytes("ISO-8859-1") ++ Array[Byte](2, 0, 0) ++
        syncsafe(com22.length) ++ com22
      val media = when(col("doc_id") % 4 === 0, lit(mp3Priv))
        .when(col("doc_id") % 4 === 1, lit(mp3Comm))
        .when(col("doc_id") % 4 === 2, lit(mp3Clean))
        .otherwise(lit(mp3V22))
      val docs = t(s, d, "documents").withColumn("media", media)
      graft.multimodal.Multimodal.metadataAudit(docs, "doc_id", "media")
        .groupBy("kind", "has_meta", "meta_kind")
        .agg(count(lit(1)).as("n_items"))
        .orderBy("kind", "meta_kind")
    },
    // The privacy walk extended to MP4/ISO-BMFF — the #1 crawled-video
    // container: REAL size-prefixed box chains (ISO/IEC 14496-12)
    // injected by doc_id % 5, with moov AFTER mdat (the non-faststart
    // layout) so the walk must skip media data by declared size. The
    // disclosure surfaces: the QuickTime '©xyz' GPS string under
    // moov/udta, XMP riding the fixed-UUID uuid box, iTunes ilst tags
    // under moov/udta/meta; a moov size overrunning the buffer reports
    // corrupt without claiming to know what it carries.
    Query("qm08_mp4_meta", Some(
      """WITH m AS (SELECT doc_id, 'mp4' AS kind,
        |    doc_id % 5 IN (0, 1, 2) AS has_meta,
        |    CASE doc_id % 5 WHEN 0 THEN 'gps' WHEN 1 THEN 'xmp'
        |      WHEN 2 THEN 'text' WHEN 3 THEN 'none'
        |      ELSE 'corrupt' END AS meta_kind
        |  FROM documents)
        |SELECT kind, has_meta, meta_kind,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM m GROUP BY 1, 2, 3 ORDER BY kind, meta_kind""".stripMargin)) { (s, d) =>
      def box(typ: String, payload: Array[Byte]): Array[Byte] = {
        val sz = payload.length + 8
        Array[Byte](((sz >> 24) & 0xFF).toByte, ((sz >> 16) & 0xFF).toByte,
          ((sz >> 8) & 0xFF).toByte, (sz & 0xFF).toByte) ++
          typ.getBytes("ISO-8859-1") ++ payload
      }
      val ftyp = box("ftyp", "isom".getBytes("ISO-8859-1") ++
        Array[Byte](0, 0, 2, 0) ++ "isomiso2".getBytes("ISO-8859-1"))
      val mdat = box("mdat", Array.fill[Byte](64)(0x55))
      val mvhd = box("mvhd", new Array[Byte](100))
      // ©xyz payload: u16 BE string length, u16 language, location text
      val loc = "+37.4220-122.0841/".getBytes("ISO-8859-1")
      val cxyz = box("\u00A9xyz",
        Array[Byte](((loc.length >> 8) & 0xFF).toByte,
          (loc.length & 0xFF).toByte, 0x15, 0xC7.toByte) ++ loc)
      val mp4Gps = ftyp ++ mdat ++ box("moov", mvhd ++ box("udta", cxyz))
      val xmpUuid = Array(0xBE, 0x7A, 0xCF, 0xCB, 0x97, 0xA9, 0x42, 0xE8,
        0x9C, 0x71, 0x99, 0x94, 0x91, 0xE3, 0xAF, 0xAC).map(_.toByte)
      val mp4Xmp = ftyp ++ box("uuid",
        xmpUuid ++ "<x:xmpmeta/>".getBytes("ISO-8859-1")) ++
        mdat ++ box("moov", mvhd)
      // meta is a FULL box (4 version/flags bytes before children)
      val nameTag = box("\u00A9nam", box("data",
        Array[Byte](0, 0, 0, 1, 0, 0, 0, 0) ++ "t".getBytes("ISO-8859-1")))
      val metaBox = box("meta", Array[Byte](0, 0, 0, 0) ++
        box("hdlr", new Array[Byte](24)) ++ box("ilst", nameTag))
      val mp4Ilst = ftyp ++ mdat ++
        box("moov", mvhd ++ box("udta", metaBox))
      val mp4Clean = ftyp ++ box("free", new Array[Byte](8)) ++ mdat ++
        box("moov", mvhd)
      // moov declares 64 more bytes than the buffer holds: truncated
      val mp4Trunc = (ftyp ++ mdat ++
        box("moov", mvhd ++ new Array[Byte](64))).dropRight(64)
      val media = when(col("doc_id") % 5 === 0, lit(mp4Gps))
        .when(col("doc_id") % 5 === 1, lit(mp4Xmp))
        .when(col("doc_id") % 5 === 2, lit(mp4Ilst))
        .when(col("doc_id") % 5 === 3, lit(mp4Clean))
        .otherwise(lit(mp4Trunc))
      val docs = t(s, d, "documents").withColumn("media", media)
      graft.multimodal.Multimodal.metadataAudit(docs, "doc_id", "media")
        .groupBy("kind", "has_meta", "meta_kind")
        .agg(count(lit(1)).as("n_items"))
        .orderBy("kind", "meta_kind")
    },
    // The privacy walk extended to the two crawled-audio containers
    // after WAV/MP3: FLAC metadata-block chains (xiph spec — the
    // VorbisComment text-tag block parsed down to the user-comment
    // COUNT, PICTURE/APPLICATION as binary) and OGG page streams
    // (RFC 3533 — the 0x03 "vorbis"/"OpusTags" comment packet at a
    // fresh packet boundary, counted the same way). REAL container
    // bytes injected by doc_id % 6, including an explicitly EMPTY
    // comment list (none, not text) and a truncated block chain.
    Query("qm09_flac_ogg_meta", Some(
      """WITH m AS (SELECT doc_id,
        |    CASE WHEN doc_id % 6 <= 3 THEN 'flac' ELSE 'ogg' END AS kind,
        |    doc_id % 6 IN (0, 1, 4) AS has_meta,
        |    CASE doc_id % 6 WHEN 0 THEN 'text' WHEN 1 THEN 'binary'
        |      WHEN 2 THEN 'none' WHEN 3 THEN 'corrupt'
        |      WHEN 4 THEN 'text' ELSE 'none' END AS meta_kind
        |  FROM documents)
        |SELECT kind, has_meta, meta_kind,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM m GROUP BY 1, 2, 3 ORDER BY kind, meta_kind""".stripMargin)) { (s, d) =>
      def le32(n: Int): Array[Byte] = Array((n & 0xFF).toByte,
        ((n >> 8) & 0xFF).toByte, ((n >> 16) & 0xFF).toByte,
        ((n >> 24) & 0xFF).toByte)
      def flacBlock(btype: Int, last: Boolean, data: Array[Byte])
          : Array[Byte] =
        Array[Byte]((((if (last) 0x80 else 0) | btype) & 0xFF).toByte,
          ((data.length >> 16) & 0xFF).toByte,
          ((data.length >> 8) & 0xFF).toByte, (data.length & 0xFF).toByte) ++
          data
      val streaminfo = flacBlock(0, last = false, new Array[Byte](34))
      def vorbisComment(comments: Seq[String]): Array[Byte] = {
        val vendor = "graft".getBytes("ISO-8859-1")
        le32(vendor.length) ++ vendor ++ le32(comments.length) ++
          comments.flatMap(c => le32(c.length).toSeq ++
            c.getBytes("ISO-8859-1").toSeq)
      }
      val flacTagged = "fLaC".getBytes("ISO-8859-1") ++ streaminfo ++
        flacBlock(4, last = true,
          vorbisComment(Seq("ARTIST=x", "LOCATION=y")))
      val flacPicture = "fLaC".getBytes("ISO-8859-1") ++ streaminfo ++
        flacBlock(6, last = true, new Array[Byte](40))
      val flacClean = "fLaC".getBytes("ISO-8859-1") ++
        flacBlock(0, last = true, new Array[Byte](34))
      // block declares 64 more bytes than the buffer carries: truncated
      val flacTrunc = ("fLaC".getBytes("ISO-8859-1") ++ streaminfo ++
        flacBlock(4, last = true, new Array[Byte](64))).dropRight(60)
      def oggPage(headerType: Int, payload: Array[Byte]): Array[Byte] = {
        require(payload.length < 255 * 255)
        val nFull = payload.length / 255
        val rem = payload.length % 255
        val segs = Array.fill[Byte](nFull)(0xFF.toByte) :+ rem.toByte
        "OggS".getBytes("ISO-8859-1") ++
          Array[Byte](0, headerType.toByte) ++ new Array[Byte](8) ++
          le32(7771) ++ le32(0) ++ le32(0) ++
          Array[Byte](segs.length.toByte) ++ segs ++ payload
      }
      val identPacket = Array[Byte](1) ++
        "vorbis".getBytes("ISO-8859-1") ++ new Array[Byte](23)
      def commentPacket(comments: Seq[String]): Array[Byte] =
        Array[Byte](3) ++ "vorbis".getBytes("ISO-8859-1") ++
          vorbisComment(comments)
      val oggTagged = oggPage(0x02, identPacket) ++
        oggPage(0, commentPacket(Seq("TITLE=t"))) ++
        oggPage(0x04, new Array[Byte](20))
      val oggUntagged = oggPage(0x02, identPacket) ++
        oggPage(0, commentPacket(Seq.empty)) ++
        oggPage(0x04, new Array[Byte](20))
      val media = when(col("doc_id") % 6 === 0, lit(flacTagged))
        .when(col("doc_id") % 6 === 1, lit(flacPicture))
        .when(col("doc_id") % 6 === 2, lit(flacClean))
        .when(col("doc_id") % 6 === 3, lit(flacTrunc))
        .when(col("doc_id") % 6 === 4, lit(oggTagged))
        .otherwise(lit(oggUntagged))
      val docs = t(s, d, "documents").withColumn("media", media)
      graft.multimodal.Multimodal.metadataAudit(docs, "doc_id", "media")
        .groupBy("kind", "has_meta", "meta_kind")
        .agg(count(lit(1)).as("n_items"))
        .orderBy("kind", "meta_kind")
    },
    // The privacy walk extended to PDF (ISO 32000) — the crawled-
    // DOCUMENT disclosure surface: the /Info dictionary reference in
    // the active trailer (classic `trailer << >>` after the xref
    // table AND the 1.5+ xref-STREAM dict at startxref — both plain
    // text, no decompression) and the XMP packet marker scan that
    // XMP Part 3 sanctions. Five REAL miniature PDFs by doc_id % 5,
    // including a startxref pointing past EOF (corrupt).
    Query("qm12_pdf_meta", Some(
      """WITH m AS (SELECT doc_id, 'pdf' AS kind,
        |    doc_id % 5 <= 2 AS has_meta,
        |    CASE doc_id % 5 WHEN 0 THEN 'text' WHEN 1 THEN 'text'
        |      WHEN 2 THEN 'xmp' WHEN 3 THEN 'none'
        |      ELSE 'corrupt' END AS meta_kind
        |  FROM documents)
        |SELECT kind, has_meta, meta_kind,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM m GROUP BY 1, 2, 3 ORDER BY kind, meta_kind""".stripMargin)) { (s, d) =>
      val hdr = "%PDF-1.4\n1 0 obj << /Type /Catalog >> endobj\n"
      def classic(trailerDict: String): Array[Byte] = {
        val xrefOff = hdr.length
        (hdr + "xref\n0 1\n0000000000 65535 f \ntrailer\n" + trailerDict +
          "\nstartxref\n" + xrefOff + "\n%%EOF").getBytes("ISO-8859-1")
      }
      val pdfInfo = classic("<< /Size 1 /Root 1 0 R /Info 2 0 R >>")
      val pdfClean = classic("<< /Size 1 /Root 1 0 R >>")
      // 1.5+ layout: trailer keys live in the xref-stream object's dict
      val b15 = "%PDF-1.5\n1 0 obj << /Type /Catalog >> endobj\n"
      val pdfXrefStream = (b15 + "5 0 obj\n<< /Type /XRef /Size 6 " +
        "/W [1 2 1] /Root 1 0 R /Info 2 0 R >>\nstream\nxx\nendstream\n" +
        "endobj\nstartxref\n" + b15.length + "\n%%EOF")
        .getBytes("ISO-8859-1")
      val xmpBody = hdr + "2 0 obj << /Type /Metadata /Subtype /XML >>\n" +
        "stream\n<?xpacket begin=\"\" id=\"W5M0MpCehiHzreSzNTczkc9d\"?>" +
        "<x:xmpmeta/><?xpacket end=\"w\"?>\nendstream endobj\n"
      val pdfXmp = (xmpBody + "xref\n0 1\n0000000000 65535 f \ntrailer\n" +
        "<< /Size 1 /Root 1 0 R >>\nstartxref\n" + xmpBody.length +
        "\n%%EOF").getBytes("ISO-8859-1")
      val pdfTrunc = (hdr + "startxref\n99999\n%%EOF")
        .getBytes("ISO-8859-1")
      val media = when(col("doc_id") % 5 === 0, lit(pdfInfo))
        .when(col("doc_id") % 5 === 1, lit(pdfXrefStream))
        .when(col("doc_id") % 5 === 2, lit(pdfXmp))
        .when(col("doc_id") % 5 === 3, lit(pdfClean))
        .otherwise(lit(pdfTrunc))
      val docs = t(s, d, "documents").withColumn("media", media)
      graft.multimodal.Multimodal.metadataAudit(docs, "doc_id", "media")
        .groupBy("kind", "has_meta", "meta_kind")
        .agg(count(lit(1)).as("n_items"))
        .orderBy("kind", "meta_kind")
    },
    // The privacy walk extended to ZIP/OOXML (PKWARE APPNOTE) — docx/
    // xlsx/odt are ZIPs, the top crawled-document container after PDF:
    // REAL archives (local headers + central directory + EOCD) whose
    // docProps/core.xml / meta.xml PART NAMES are the author-metadata
    // signal, read from the central directory without any deflate.
    Query("qm13_zip_meta", Some(
      """WITH m AS (SELECT doc_id, 'zip' AS kind,
        |    doc_id % 4 <= 1 AS has_meta,
        |    CASE doc_id % 4 WHEN 0 THEN 'text' WHEN 1 THEN 'text'
        |      WHEN 2 THEN 'none' ELSE 'corrupt' END AS meta_kind
        |  FROM documents)
        |SELECT kind, has_meta, meta_kind,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM m GROUP BY 1, 2, 3 ORDER BY kind, meta_kind""".stripMargin)) { (s, d) =>
      def le16(v: Int) = Array[Byte]((v & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte)
      def le32z(v: Int) = Array[Byte]((v & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
        ((v >> 24) & 0xFF).toByte)
      def zipOf(names: Seq[String]): Array[Byte] = {
        var locals = Array.emptyByteArray
        var centrals = Array.emptyByteArray
        for (name <- names) {
          val nb = name.getBytes("ISO-8859-1")
          val localOff = locals.length
          locals = locals ++ Array[Byte](0x50, 0x4B, 3, 4) ++ le16(20) ++
            le16(0) ++ le16(0) ++ le16(0) ++ le16(0) ++ le32z(0) ++
            le32z(0) ++ le32z(0) ++ le16(nb.length) ++ le16(0) ++ nb
          centrals = centrals ++ Array[Byte](0x50, 0x4B, 1, 2) ++ le16(20) ++
            le16(20) ++ le16(0) ++ le16(0) ++ le16(0) ++ le16(0) ++
            le32z(0) ++ le32z(0) ++ le32z(0) ++ le16(nb.length) ++
            le16(0) ++ le16(0) ++ le16(0) ++ le16(0) ++ le32z(0) ++
            le32z(localOff) ++ nb
        }
        locals ++ centrals ++ (Array[Byte](0x50, 0x4B, 5, 6) ++ le16(0) ++
          le16(0) ++ le16(names.size) ++ le16(names.size) ++
          le32z(centrals.length) ++ le32z(locals.length) ++ le16(0))
      }
      val zipOoxml = zipOf(Seq("[Content_Types].xml", "docProps/core.xml",
        "word/document.xml"))
      val zipOdf = zipOf(Seq("mimetype", "meta.xml", "content.xml"))
      val zipClean = zipOf(Seq("data.bin", "README"))
      // EOCD names a central directory the buffer does not carry
      val oneLocal = zipOf(Seq("x")).take(
        4 + 26 + 1) // just the local header + name
      val zipTrunc = oneLocal ++ (Array[Byte](0x50, 0x4B, 5, 6) ++ le16(0) ++
        le16(0) ++ le16(1) ++ le16(1) ++ le32z(46) ++
        le32z(oneLocal.length) ++ le16(0))
      val media = when(col("doc_id") % 4 === 0, lit(zipOoxml))
        .when(col("doc_id") % 4 === 1, lit(zipOdf))
        .when(col("doc_id") % 4 === 2, lit(zipClean))
        .otherwise(lit(zipTrunc))
      val docs = t(s, d, "documents").withColumn("media", media)
      graft.multimodal.Multimodal.metadataAudit(docs, "doc_id", "media")
        .groupBy("kind", "has_meta", "meta_kind")
        .agg(count(lit(1)).as("n_items"))
        .orderBy("kind", "meta_kind")
    },
    // The privacy walk extended to TIFF/BigTIFF (crawled rasters —
    // aerial/satellite .tif carries camera GPS more often than any
    // other format the M family audits): REAL little- and big-endian
    // IFD chains injected by doc_id % 6 — GPS/EXIF IFD pointer tags,
    // the XMP packet tag, Artist text, a clean two-tag file, and a
    // chain pointing past the buffer (corrupt).
    Query("qm11_tiff_meta", Some(
      """WITH m AS (SELECT doc_id, 'tiff' AS kind,
        |    doc_id % 6 <= 3 AS has_meta,
        |    CASE doc_id % 6 WHEN 0 THEN 'gps' WHEN 1 THEN 'exif'
        |      WHEN 2 THEN 'xmp' WHEN 3 THEN 'text'
        |      WHEN 4 THEN 'none' ELSE 'corrupt' END AS meta_kind
        |  FROM documents)
        |SELECT kind, has_meta, meta_kind,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM m GROUP BY 1, 2, 3 ORDER BY kind, meta_kind""".stripMargin)) { (s, d) =>
      def le16(v: Int) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
      def le32b(v: Int) = Array[Byte]((v & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
        ((v >> 24) & 0xFF).toByte)
      // classic little-endian TIFF: header(8) + one IFD at offset 8
      def tiffLE(tags: Seq[Int]): Array[Byte] = {
        val entries = tags.sorted.flatMap(t =>
          le16(t) ++ le16(4) ++ le32b(1) ++ le32b(0)) // type LONG, count 1
        "II".getBytes("ISO-8859-1") ++ le16(42) ++ le32b(8) ++
          le16(tags.size) ++ entries ++ le32b(0)
      }
      val width = 256
      val height = 257
      val tiffGps = tiffLE(Seq(width, height, 34853))
      val tiffExif = tiffLE(Seq(width, height, 34665))
      val tiffXmp = tiffLE(Seq(width, height, 700))
      val tiffArtist = tiffLE(Seq(width, height, 315))
      val tiffClean = tiffLE(Seq(width, height))
      // IFD offset beyond the buffer: corrupt
      val tiffTrunc = "II".getBytes("ISO-8859-1") ++ le16(42) ++
        le32b(4096) ++ le16(0)
      val media = when(col("doc_id") % 6 === 0, lit(tiffGps))
        .when(col("doc_id") % 6 === 1, lit(tiffExif))
        .when(col("doc_id") % 6 === 2, lit(tiffXmp))
        .when(col("doc_id") % 6 === 3, lit(tiffArtist))
        .when(col("doc_id") % 6 === 4, lit(tiffClean))
        .otherwise(lit(tiffTrunc))
      val docs = t(s, d, "documents").withColumn("media", media)
      graft.multimodal.Multimodal.metadataAudit(docs, "doc_id", "media")
        .groupBy("kind", "has_meta", "meta_kind")
        .agg(count(lit(1)).as("n_items"))
        .orderBy("kind", "meta_kind")
    },
    // WebDataset tar-shard round trip UNDER THE ORACLE: documents ->
    // writeShards (4 tars, one per partition, pure-JVM ustar writer) ->
    // samples (streamed parse, one task per shard) -> byte length + md5
    // of every payload. The oracle computes the same from the table
    // directly, so a single corrupted header/offset/padding byte in the
    // tar plumbing flips a hash and fails the gate.
    // WARC (ISO 28500) round trip UNDER THE ORACLE — the Common Crawl
    // container: documents -> Warc.write (4 .warc.gz shards, one per
    // partition, each record its OWN gzip member per spec) -> Warc.read
    // (streamed per-file parse, gzip sniffed) -> byte length + md5 of
    // every payload. The oracle computes the same from the table
    // directly, so a single corrupted header/length/separator byte in
    // the WARC plumbing flips a hash and fails the gate (qm02's tar
    // discipline).
    Query("qm10_warc_roundtrip", Some(
      """SELECT 'https://example.com/doc/' || lpad(CAST(doc_id AS VARCHAR),
        |   8, '0') AS uri,
        | CAST(octet_length(encode(text)) AS INT) AS byte_len,
        | md5(text) AS payload_md5
        |FROM documents WHERE doc_id < 300 ORDER BY uri""".stripMargin)) { (s, d) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_qm10").toString
      val docs = t(s, d, "documents").filter(col("doc_id") < 300)
        .select(format_string("https://example.com/doc/%08d", col("doc_id"))
          .as("uri"), encode(col("text"), "UTF-8").as("payload"))
        .repartition(4)
      graft.sources.Warc.write(docs, "uri", "payload", dir, gzip = true)
      graft.sources.Warc.read(s, s"$dir/*.warc.gz")
        .select(col("uri"),
          length(col("payload")).cast("int").as("byte_len"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("uri")
    },
    Query("qm02_tar_shards", Some(
      """SELECT 'doc' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key,
        | CAST(octet_length(encode(text)) AS INT) AS byte_len,
        | md5(text) AS payload_md5
        |FROM documents WHERE doc_id < 300 ORDER BY key""".stripMargin)) { (s, d) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_qm02").toString
      val docs = t(s, d, "documents").filter(col("doc_id") < 300)
        .select(format_string("doc%08d", col("doc_id")).as("key"),
          map(lit("txt"), encode(col("text"), "UTF-8")).as("files"))
        .repartition(4)
      graft.sources.TarShards.writeShards(docs, "key", "files", dir)
      graft.sources.TarShards.samples(s, s"$dir/*.tar")
        .select(col("key"),
          length(col("files").getItem("txt")).cast("int").as("byte_len"),
          md5(col("files").getItem("txt")).as("payload_md5"))
        .orderBy("key")
    },
    // The streaming slice's tumbling-window aggregation, batch-planned on
    // the same code path (EventStream.tumblingCounts) the streaming query
    // runs, checked against DuckDB date_trunc.
    Query("qs01_event_windows", Some(
      """SELECT date_trunc('hour', ts) AS wstart, event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin)) { (s, d) =>
      EventStream.tumblingCounts(t(s, d, "events"))
        .orderBy("wstart", "event_type")
    },
    // The sessionizer itself under the oracle: gap-based sessions from the
    // stateful operator vs DuckDB's break-flag + running-sum window SQL.
    // (sumValue is omitted — a sequential double sum is order-sensitive
    // across engines; boundaries and counts are the semantics.)
    Query("qs02_sessions", Some(
      s"""WITH $gapSessionCtes
        |SELECT user_id, MIN(us) AS start_us, MAX(us) AS end_us,
        | CAST(COUNT(*) AS INT) AS n_events
        |FROM g GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin)) { (s, d) =>
      EventStream.sessionize(t(s, d, "events"), gapMinutes = 30)
        .select(col("user_id"), col("startMicros").as("start_us"),
          col("endMicros").as("end_us"), col("nEvents").as("n_events"))
        .orderBy("user_id", "start_us")
    },
    // Sliding windows: 1-hour windows every 30 minutes — each event lands
    // in two windows; oracle enumerates both epoch-aligned starts.
    Query("qs04_sliding_windows", Some(
      """WITH ev AS (SELECT event_type, value, epoch_ms(ts) AS ms FROM events),
        |w AS (SELECT event_type, value,
        |  ((ms // 1800000) - o) * 1800000 AS ws_ms
        | FROM ev, (SELECT unnest(generate_series(0, 1)) AS o))
        |SELECT ws_ms, event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY ws_ms, event_type""".stripMargin)) { (s, d) =>
      EventStream.slidingCounts(t(s, d, "events"))
        .orderBy("ws_ms", "event_type")
    },
    // Ordered conversion funnel view -> click -> purchase (2-day step
    // window): per-user min-timestamp chain, every stage keyed on
    // user_id so the whole plan reuses one partitioning.
    Query("qs05_funnel", Some(
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, MIN(us) AS t FROM ev WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(us) AS t FROM ev e JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.us > s1.t AND e.us <= s1.t + 172800000000 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(us) AS t FROM ev e JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > s2.t AND e.us <= s2.t + 172800000000 GROUP BY e.user_id)
        |SELECT CAST(1 AS INT) AS step, 'view' AS stage, COUNT(*) AS users FROM s1
        |UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3
        |ORDER BY step""".stripMargin)) { (s, d) =>
      EventStream.funnel(t(s, d, "events"),
        Seq("view", "click", "purchase"), windowMinutes = 2880)
    },
    // The funnel's stateful (flatMapGroupsWithState) face under the
    // oracle: one row per user-stage advancement. Same state function
    // runs batch and streaming (in-order replay parity is spec-checked).
    Query("qs06_funnel_transitions", Some(
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, MIN(us) AS t FROM ev WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(us) AS t FROM ev e JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.us > s1.t AND e.us <= s1.t + 172800000000 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(us) AS t FROM ev e JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > s2.t AND e.us <= s2.t + 172800000000 GROUP BY e.user_id)
        |SELECT user_id, CAST(1 AS INT) AS step, 'view' AS stage, t AS us FROM s1
        |UNION ALL SELECT user_id, 2, 'click', t FROM s2
        |UNION ALL SELECT user_id, 3, 'purchase', t FROM s3
        |ORDER BY user_id, step""".stripMargin)) { (s, d) =>
      EventStream.funnelTransitions(t(s, d, "events"),
          Seq("view", "click", "purchase"), windowMinutes = 2880)
        .toDF()
        .orderBy("user_id", "step")
    },
    // Windowed heavy hitters: top-3 event types per hour by count —
    // the "trending" pattern, a rank window over the tumbling
    // aggregation's (already tiny) output, never the raw stream.
    Query("qw01_trending", Some(
      """WITH hourly AS (SELECT date_trunc('hour', ts) AS wstart, event_type,
        |  COUNT(*) AS n FROM events GROUP BY 1, 2),
        |r AS (SELECT wstart, event_type, n,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY wstart ORDER BY n DESC, event_type) AS INT) AS rank
        | FROM hourly)
        |SELECT wstart, event_type, n, rank FROM r WHERE rank <= 3
        |ORDER BY wstart, rank""".stripMargin)) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("wstart").orderBy(col("n").desc, col("event_type"))
      EventStream.tumblingCounts(t(s, d, "events"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("wstart", "event_type", "n", "rank")
        .orderBy("wstart", "rank")
    },
    // Weekly retention cohorts: first-activity week x offset matrix.
    Query("qs07_retention", Some(
      """WITH ev AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id)
        |SELECT f.cohort_wk, e.wk - f.cohort_wk AS week_offset,
        | COUNT(DISTINCT e.user_id) AS n_users
        |FROM ev e JOIN f ON f.user_id = e.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)) { (s, d) =>
      EventStream.retentionCohorts(t(s, d, "events"))
    },
    // Interval-union length (merge-intervals): per user, UNIQUE engaged
    // time from overlapping 30-min engagement windows — raw minus union
    // is exactly what a naive duration sum double-counts.
    Query("qr04_interval_union", Some(
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 1800000000 AS e FROM events),
        |sw AS (SELECT user_id, s, e,
        |    MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |  CAST(SUM(e - s) AS BIGINT) AS raw_us,
        |  CAST(SUM(GREATEST(0, e - GREATEST(s, COALESCE(pmax, s))))
        |    AS BIGINT) AS union_us,
        |  CAST(MAX(e) - MIN(s) AS BIGINT) AS span_us
        |FROM sw GROUP BY 1 ORDER BY user_id""".stripMargin)) { (s, d) =>
      val iv = t(s, d, "events").select(col("user_id"),
        col("ts").as("st"),
        (col("ts") + 1800000000L).as("en"))
      graft.operators.RangeJoin.intervalUnionLength(iv, "user_id",
          "st", "en")
        .orderBy("user_id")
    },
    // Interval OVERLAP join: cross-user pairs of concurrent sessions —
    // each side explodes into the 1-hour bins its interval touches, each
    // surviving pair attributed to the bin of its overlap start (no
    // dedup shuffle). Work per task ∝ rows-per-bin, never sessions².
    Query("qr02_interval_overlap", Some(
      s"""WITH $gapSessionCtes,
        |sess AS (SELECT user_id, MIN(us) AS s, MAX(us) AS e FROM g GROUP BY user_id, sid)
        |SELECT a.user_id AS ua, a.s AS sa, b.user_id AS ub, b.s AS sb,
        | LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS overlap_us
        |FROM sess a JOIN sess b
        |  ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
        |ORDER BY ua, sa, ub, sb""".stripMargin)) { (s, d) =>
      val sess = EventStream.sessionize(t(s, d, "events"), gapMinutes = 30).toDF()
      val a = sess.select(col("user_id").as("ua"),
        col("startMicros").as("sa"), col("endMicros").as("ea"))
      val b = sess.select(col("user_id").as("ub"),
        col("startMicros").as("sb"), col("endMicros").as("eb"))
      graft.operators.RangeJoin.intervalOverlapJoin(
          a, b, "sa", "ea", "sb", "eb", binSize = 3600000000L)
        .filter(col("ua") < col("ub"))
        .select(col("ua"), col("sa"), col("ub"), col("sb"),
          (least(col("ea"), col("eb")) - greatest(col("sa"), col("sb"))).as("overlap_us"))
        .orderBy("ua", "sa", "ub", "sb")
    },
    // CDC MERGE: apply the event stream as a keyed changelog (signup=I,
    // error=D, anything else=U; latest ts wins, D beats same-seq U) onto
    // a synthetic snapshot — the incremental-corpus update path with no
    // table format. The delta collapses on ITS OWN shuffle; the snapshot
    // is only full-outer joined, never re-aggregated.
    Query("qc01_cdc_merge", Some(
      """WITH snap AS (SELECT DISTINCT user_id, CAST(0.0 AS DOUBLE) AS value
        |  FROM events WHERE user_id % 2 = 0),
        |dl AS (SELECT user_id, epoch_us(ts) AS seq, value,
        |  CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' ELSE 'U' END AS op
        | FROM events),
        |latest AS (SELECT user_id, op, value FROM (
        |  SELECT user_id, op, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq DESC,
        |      CASE WHEN op = 'D' THEN 0 ELSE 1 END,
        |      value DESC NULLS LAST, op DESC) AS rn FROM dl) WHERE rn = 1)
        |SELECT COALESCE(s.user_id, l.user_id) AS user_id,
        | CASE WHEN l.user_id IS NOT NULL THEN l.value ELSE s.value END AS value
        |FROM snap s FULL OUTER JOIN latest l ON l.user_id = s.user_id
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY user_id""".stripMargin)) { (s, d) =>
      val ev = t(s, d, "events")
      val snapshot = ev.filter(col("user_id") % 2 === 0)
        .select(col("user_id")).distinct()
        .withColumn("value", lit(0.0))
      val delta = ev.select(col("user_id"),
        col("ts").as("seq"), col("value"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"))
      graft.operators.Cdc.applyChangelog(snapshot, delta,
          Seq("user_id"), "seq", "op")
        .orderBy("user_id")
    },
    // STREAM-STREAM interval join under the oracle (click attribution):
    // views and clicks filtered from ONE stream and self-joined across a
    // 3-micro-batch replay — watermarked on both sides with the
    // time-range condition that bounds Spark's join state. The oracle is
    // the plain batch interval join; cross-batch pairs are what the
    // buffered state must produce.
    Query("qs08_stream_join", Some(
      """WITH v AS (SELECT user_id, epoch_us(ts) AS us FROM events
        |  WHERE event_type = 'view' AND user_id < 300),
        |c AS (SELECT user_id, epoch_us(ts) AS us, value FROM events
        |  WHERE event_type = 'click' AND user_id < 300)
        |SELECT v.user_id AS user_id, v.us AS left_us, c.us AS right_us,
        | c.value AS value
        |FROM v JOIN c ON c.user_id = v.user_id
        | AND c.us >= v.us AND c.us <= v.us + 1800000000
        |ORDER BY v.user_id, left_us, right_us""".stripMargin)) { (s, d) =>
      import s.implicits._
      val rows = Replay.bounded(
        t(s, d, "events").filter(col("user_id") < 300)
          .select("user_id", "event_type", "ts", "value")
          .as[(Long, String, Long, Double)], max = 25000).sortBy(_._3)
      // a stream-stream join opens 4 state stores per shuffle partition
      // per micro-batch, the heaviest multiplier in the suite. r10: 4 -> 2;
      // r11: 2 -> 1 (paired min-of-6 at sf0.1: qs08 4.32 -> 3.22 s, qs18
      // 4.05 -> 3.76 s).
      Replay.run(s, rows, Seq("user_id", "event_type", "ts", "value"),
          Some(1), "append") {
        EventStream.intervalJoin(_, "view", "click", windowMinutes = 30)
      }.orderBy("user_id", "left_us", "right_us")
    },
    // STREAM-STREAM LEFT OUTER interval join under the oracle
    // (unattributed-impression accounting): qs08's inner join emits only
    // matches as they arrive, but an outer join must EARN its NULL rows
    // — an unmatched view emits null-extended only once the watermark
    // proves no click can still land in its window. A far-future
    // view+click sentinel pair advances both sides' watermarks so every
    // pending left flushes; the oracle is the plain batch LEFT JOIN,
    // which gets the same rows for free.
    Query("qs18_stream_outer_join", Some(
      """WITH v AS (SELECT user_id, epoch_us(ts) AS us FROM events
        |  WHERE event_type = 'view' AND user_id < 300),
        |c AS (SELECT user_id, epoch_us(ts) AS us, value FROM events
        |  WHERE event_type = 'click' AND user_id < 300)
        |SELECT v.user_id AS user_id, v.us AS left_us, c.us AS right_us,
        | c.value AS value
        |FROM v LEFT JOIN c ON c.user_id = v.user_id
        | AND c.us >= v.us AND c.us <= v.us + 1800000000
        |ORDER BY v.user_id, left_us, right_us""".stripMargin)) { (s, d) =>
      import s.implicits._
      val rows = Replay.bounded(
        t(s, d, "events").filter(col("user_id") < 300)
          .select("user_id", "event_type", "ts", "value")
          .as[(Long, String, Long, Double)], max = 25000).sortBy(_._3)
      val sentinelTs = rows.map(_._3).max + 10L * 24 * 3600 * 1000000L
      // qs08's stream-stream join store economics: 1 partition (r11)
      Replay.run(s, rows, Seq("user_id", "event_type", "ts", "value"),
          Some(1), "append", last = Seq((999999L, "view", sentinelTs, 0.0),
            (999999L, "click", sentinelTs, 0.0))) {
        EventStream.intervalJoinOuter(_, "view", "click", windowMinutes = 30)
      }.filter(col("user_id") < 300)
        .orderBy("user_id", "left_us", "right_us")
    },
    // STREAMING WINDOWED KMV sketch under the oracle: per-hour distinct
    // users estimated by the bottom-64 md5 state, emitted once per
    // window when the watermark closes it (a far-future sentinel closes
    // every real window in the replay; its own window is filtered out).
    // The oracle replays the per-window KMV formula — digit-identical
    // because the estimate is a pure function of the k smallest hashes.
    Query("qx05_kmv_windowed", Some(
      s"""WITH d AS (SELECT DISTINCT epoch_us(date_trunc('hour', ts)) AS w,
        |  md5(CAST(user_id AS VARCHAR)) AS h FROM events WHERE user_id < 300),
        |r AS (SELECT w, h, ROW_NUMBER() OVER (PARTITION BY w ORDER BY h) AS rn FROM d),
        |kk AS (SELECT w, ${hex52("h")} AS hi
        |  FROM r WHERE rn <= 64)
        |SELECT w AS wstart_us, CAST(COUNT(*) AS INT) AS n_hashes,
        | CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
        |   ELSE CAST(63 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / CAST(MAX(hi) AS DOUBLE)
        | END AS est_distinct
        |FROM kk GROUP BY w ORDER BY wstart_us""".stripMargin)) { (s, d) =>
      import s.implicits._
      // Replay set bounded by a deterministic key filter (qs08's
      // discipline): the driver gather stays O(|user_id<300|) at every
      // SF instead of collecting the whole events relation.
      val rows = Replay.bounded(
        t(s, d, "events").filter(col("user_id") < 300)
          .select("user_id", "ts")
          .as[(Long, Long)], max = 25000).sortBy(_._2)
      val sentinelTs = rows.last._2 + 10L * 24 * 3600 * 1000000L
      val sentinelW = sentinelTs - sentinelTs % 3600000000L
      Replay.run(s, rows, Seq("user_id", "ts"), Some(4), "append",
          last = Seq((999999L, sentinelTs))) {
        EventStream.kmvDistinctWindowed(_, "user_id")
      }.filter(col("wstart_us") < sentinelW)
        .orderBy("wstart_us")
    },
    // STREAMING CDC upsert under the oracle: the same snapshot+changelog
    // as qc01 (bounded to user_id < 300), but folded through
    // CdcStream.applyChangelogStream across a 3-micro-batch stream
    // replay with the snapshot as INITIAL STATE, then materialized. The
    // oracle is the batch MERGE formula — what's actually verified is
    // that per-key state (snapshot seed + cross-batch winners + late-
    // record drops + same-seq delete ties) lands on the identical table.
    Query("qc03_cdc_stream", Some(
      """WITH snap AS (SELECT DISTINCT user_id, CAST(0.0 AS DOUBLE) AS value
        |  FROM events WHERE user_id % 2 = 0 AND user_id < 300),
        |dl AS (SELECT user_id, epoch_us(ts) AS seq, value,
        |  CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' ELSE 'U' END AS op
        | FROM events WHERE user_id < 300),
        |latest AS (SELECT user_id, op, value FROM (
        |  SELECT user_id, op, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq DESC,
        |      CASE WHEN op = 'D' THEN 0 ELSE 1 END,
        |      CAST(value AS VARCHAR) DESC NULLS LAST, op DESC) AS rn
        |   FROM dl) WHERE rn = 1)
        |SELECT COALESCE(s.user_id, l.user_id) AS user_id,
        | CASE WHEN l.user_id IS NOT NULL THEN l.value ELSE s.value END AS value
        |FROM snap s FULL OUTER JOIN latest l ON l.user_id = s.user_id
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY user_id""".stripMargin)) { (s, d) =>
      import s.implicits._
      val ev = t(s, d, "events").filter(col("user_id") < 300)
      val snapshot = ev.filter(col("user_id") % 2 === 0)
        .select(col("user_id").as("key")).distinct()
        .withColumn("payload", lit(0.0).cast("string"))
      val delta0 = ev.select(col("user_id").as("key"),
          col("ts").as("seq"),
          col("value").cast("string").as("payload"),
          when(col("event_type") === "signup", "I")
            .when(col("event_type") === "error", "D")
            .otherwise("U").as("op"))
        .as[(Long, Long, String, String)]
      val delta = Replay.bounded(delta0, max = 25000)
        .sortBy(r => (r._2, r._1))
      val changes = Replay.run(s, delta, Seq("key", "seq", "payload", "op"),
          Some(4), "append") {
        graft.streaming.CdcStream.applyChangelogStream(_,
          "key", "op", "seq", "payload", Some(snapshot))
      }
      graft.streaming.CdcStream.materialize(changes, Some(snapshot))
        .select(col("key").as("user_id"),
          col("payload").cast("double").as("value"))
        .orderBy("user_id")
    },
    // Two-master merge conflicts: events split by parity into two sites'
    // changelogs, each collapsed to latest-per-key, classified
    // a_only / b_only / agree / conflict — the reconciliation queue.
    Query("qc10_merge_conflicts", Some(
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS seq, value,
        |    CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
        |      ELSE 'U' END AS op
        |  FROM events WHERE user_id < 300),
        |la AS (SELECT user_id, op AS op_a, value AS v_a FROM (
        |    SELECT user_id, op, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq DESC,
        |        CASE WHEN op = 'D' THEN 0 ELSE 1 END,
        |        CAST(value AS VARCHAR) DESC NULLS LAST, op DESC) AS rn
        |    FROM ev WHERE event_id % 2 = 0) WHERE rn = 1),
        |lb AS (SELECT user_id, op AS op_b, value AS v_b FROM (
        |    SELECT user_id, op, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq DESC,
        |        CASE WHEN op = 'D' THEN 0 ELSE 1 END,
        |        CAST(value AS VARCHAR) DESC NULLS LAST, op DESC) AS rn
        |    FROM ev WHERE event_id % 2 = 1) WHERE rn = 1)
        |SELECT COALESCE(la.user_id, lb.user_id) AS user_id, op_a, op_b,
        |  CASE WHEN op_b IS NULL THEN 'a_only'
        |    WHEN op_a IS NULL THEN 'b_only'
        |    WHEN op_a = op_b AND v_a IS NOT DISTINCT FROM v_b THEN 'agree'
        |    ELSE 'conflict' END AS status
        |FROM la FULL OUTER JOIN lb ON lb.user_id = la.user_id
        |ORDER BY user_id""".stripMargin)) { (s, d) =>
      val ev = t(s, d, "events").filter(col("user_id") < 300)
      def site(m: Int) = ev.filter(col("event_id") % 2 === m)
        .select(col("user_id"), col("ts").as("seq"), col("value"),
          when(col("event_type") === "signup", "I")
            .when(col("event_type") === "error", "D")
            .otherwise("U").as("op"))
      graft.operators.Cdc.mergeConflicts(site(0), site(1),
          Seq("user_id"), "seq", "op")
        .orderBy("user_id")
    },
    // Changelog health profile: per op, volume / key breadth / hottest
    // key — the upstream-bug tripwire read BEFORE applying a feed.
    Query("qc09_changelog_stats", Some(
      """WITH dl AS (SELECT user_id,
        |    CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
        |      ELSE 'U' END AS op
        |  FROM events),
        |pk AS (SELECT user_id, op, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM dl GROUP BY 1, 2)
        |SELECT op, CAST(SUM(c) AS BIGINT) AS n_ops,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(MAX(c) AS BIGINT) AS max_per_key
        |FROM pk GROUP BY op ORDER BY op""".stripMargin)) { (s, d) =>
      val delta = t(s, d, "events").select(col("user_id"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"))
      graft.operators.Cdc.changelogStats(delta, Seq("user_id"), "op")
        .orderBy("op")
    },
    // EXACT windowed distinct users under the oracle — the precise face
    // of qx05's KMV estimate: dropDuplicatesWithinWatermark on
    // (window, user) chained into an append-mode windowed count, across
    // the same 3-micro-batch replay + far-future sentinel harness.
    Query("qs16_distinct_windowed", Some(
      """SELECT epoch_us(date_trunc('hour', ts)) AS wstart_us,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
        |FROM events WHERE user_id < 300
        |GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, d) =>
      import s.implicits._
      val rows = Replay.bounded(
        t(s, d, "events").filter(col("user_id") < 300)
          .select("user_id", "ts")
          .as[(Long, Long)], max = 25000).sortBy(_._2)
      val sentinelTs = rows.last._2 + 10L * 24 * 3600 * 1000000L
      val sentinelW = sentinelTs - sentinelTs % 3600000000L
      Replay.run(s, rows, Seq("user_id", "ts"), Some(4), "append",
          last = Seq((999999L, sentinelTs))) {
        EventStream.distinctWindowed(_, "user_id")
      }.filter(col("wstart_us") < sentinelW)
        .orderBy("wstart_us")
    },
    // Time-travel read: the table AS OF the midpoint of the event-time
    // range, reconstructed from the changelog alone (latest op per key
    // with seq <= asof under the applyChangelog total order; D erases).
    // Bitemporal point read: what the system KNEW at commit horizon
    // t_cut about the state EFFECTIVE at valid horizon v_cut — late
    // corrections (high tx, low valid time) visible only past their
    // commit. Valid time = event time, tx time = event_id ingest order
    // (their disagreement is exactly what qs13's disorder audit counts).
    Query("qc11_bitemporal", Some(
      """WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2
        |    AS v_cut,
        |    (MIN(event_id) + MAX(event_id)) // 2 AS t_cut FROM events),
        |dl AS (SELECT user_id, epoch_us(ts) AS vt, event_id AS tx, value,
        |    CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
        |      ELSE 'U' END AS op
        |  FROM events, b
        |  WHERE event_id <= t_cut AND epoch_us(ts) <= v_cut),
        |latest AS (SELECT user_id, op, value FROM (
        |    SELECT user_id, op, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY vt DESC,
        |        tx DESC, CASE WHEN op = 'D' THEN 0 ELSE 1 END,
        |        CAST(value AS VARCHAR) DESC NULLS LAST, op DESC) AS rn
        |    FROM dl) WHERE rn = 1)
        |SELECT user_id, value FROM latest WHERE op <> 'D'
        |ORDER BY user_id""".stripMargin)) { (s, d) =>
      val ev = t(s, d, "events")
      val b = ev.agg(min("ts").as("lo"),
        max("ts").as("hi"),
        min("event_id").as("elo"), max("event_id").as("ehi")).head()
      val validAsOf = (b.getLong(0) + b.getLong(1)) / 2
      val txAsOf = (b.getLong(2) + b.getLong(3)) / 2
      val delta = ev.select(col("user_id"), col("ts").as("vt"),
        col("event_id").as("tx"), col("value"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"))
      graft.operators.Cdc.bitemporalAsOf(delta, Seq("user_id"), "vt",
        "tx", "op", validAsOf, txAsOf).orderBy("user_id")
    },
    // Snapshot diff between two time-travel horizons (1/3 and 2/3 of
    // the event range): added/removed/changed keys with old/new values.
    Query("qc12_snapshot_diff", Some(
      """WITH b AS (SELECT
        |    (2 * MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 3 AS c1,
        |    (MIN(epoch_us(ts)) + 2 * MAX(epoch_us(ts))) // 3 AS c2
        |  FROM events),
        |dl AS (SELECT user_id, epoch_us(ts) AS seq, value,
        |    CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
        |      ELSE 'U' END AS op
        |  FROM events),
        |s1 AS (SELECT user_id, value FROM (
        |    SELECT user_id, op, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq DESC,
        |        CASE WHEN op = 'D' THEN 0 ELSE 1 END,
        |        CAST(value AS VARCHAR) DESC NULLS LAST, op DESC) AS rn
        |    FROM dl WHERE seq <= (SELECT c1 FROM b))
        |  WHERE rn = 1 AND op <> 'D'),
        |s2 AS (SELECT user_id, value FROM (
        |    SELECT user_id, op, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq DESC,
        |        CASE WHEN op = 'D' THEN 0 ELSE 1 END,
        |        CAST(value AS VARCHAR) DESC NULLS LAST, op DESC) AS rn
        |    FROM dl WHERE seq <= (SELECT c2 FROM b))
        |  WHERE rn = 1 AND op <> 'D'),
        |j AS (SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
        |    s1.value AS old_value, s2.value AS new_value,
        |    (s1.user_id IS NOT NULL) AS ina,
        |    (s2.user_id IS NOT NULL) AS inb
        |  FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id)
        |SELECT user_id,
        |  CASE WHEN NOT ina THEN 'added' WHEN NOT inb THEN 'removed'
        |    ELSE 'changed' END AS change,
        |  old_value, new_value
        |FROM j
        |WHERE NOT (ina AND inb
        |  AND (old_value IS NOT DISTINCT FROM new_value))
        |ORDER BY user_id""".stripMargin)) { (s, d) =>
      val ev = t(s, d, "events")
      val b = ev.agg(min("ts").as("lo"), max("ts").as("hi")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val delta = ev.select(col("user_id"), col("ts").as("seq"),
        col("value"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"))
      graft.operators.Cdc.timeTravelDiff(delta, Seq("user_id"), "seq", "op",
          (2 * lo + hi) / 3, (lo + 2 * hi) / 3)
        .orderBy("user_id")
    },
    Query("qc08_snapshot_asof", Some(
      """WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2
        |    AS cut_us FROM events),
        |dl AS (SELECT user_id, epoch_us(ts) AS seq, value,
        |    CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
        |      ELSE 'U' END AS op
        |  FROM events WHERE epoch_us(ts) <= (SELECT cut_us FROM b)),
        |latest AS (SELECT user_id, op, value FROM (
        |    SELECT user_id, op, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq DESC,
        |        CASE WHEN op = 'D' THEN 0 ELSE 1 END,
        |        CAST(value AS VARCHAR) DESC NULLS LAST, op DESC) AS rn
        |    FROM dl) WHERE rn = 1)
        |SELECT user_id, value FROM latest WHERE op <> 'D'
        |ORDER BY user_id""".stripMargin)) { (s, d) =>
      val ev = t(s, d, "events")
      // one bounded 1-row gather fixes the as-of point deterministically
      val b = ev.agg(min("ts").as("lo"), max("ts").as("hi")).head()
      val asOf = (b.getLong(0) + b.getLong(1)) / 2
      val delta = ev.select(col("user_id"), col("ts").as("seq"),
        col("value"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"))
      graft.operators.Cdc.snapshotAsOf(delta, Seq("user_id"), "seq", "op",
          asOf)
        .orderBy("user_id")
    },
    // STREAM-STATIC dimension enrichment under the oracle: events replay
    // through Replay.run, each micro-batch broadcast-joined to the
    // static customer dimension (stateless append — Structured
    // Streaming's stream-static join); the oracle is the plain batch
    // left join. Unknown users keep NULL dim columns.
    Query("qs14_stream_enrich", Some(
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
        |  c.c_nationkey AS nationkey, e.value
        |FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
        |WHERE e.user_id < 300 ORDER BY e.event_id""".stripMargin)) { (s, d) =>
      import s.implicits._
      val rows = Replay.bounded(
        t(s, d, "events").filter(col("user_id") < 300)
          .select("event_id", "user_id", "value")
          .as[(Long, Long, Double)], max = 25000).sortBy(_._1)
      val dim = t(s, d, "customer")
      Replay.run(s, rows, Seq("event_id", "user_id", "value"), None,
          "append") {
        EventStream.enrichStatic(_, dim,
          "user_id", "c_custkey", Seq("c_mktsegment", "c_nationkey"))
      }.select(col("event_id"), col("user_id"),
          col("c_mktsegment").as("segment"),
          col("c_nationkey").as("nationkey"), col("value"))
        .orderBy("event_id")
    },
    // STREAM-STATIC LEFT ANTI under the oracle (ingest blocklist): each
    // micro-batch anti-joins the broadcast BUILDING-segment customer
    // keys — stateless, the complement of qs14's stream-static left
    // join; the oracle is the plain batch NOT EXISTS.
    Query("qs19_stream_blocklist", Some(
      """SELECT event_id, user_id, value FROM events e
        |WHERE user_id < 300 AND NOT EXISTS (
        |  SELECT 1 FROM customer c
        |  WHERE c.c_mktsegment = 'BUILDING' AND c.c_custkey = e.user_id)
        |ORDER BY event_id""".stripMargin)) { (s, d) =>
      import s.implicits._
      val rows = Replay.bounded(
        t(s, d, "events").filter(col("user_id") < 300)
          .select("event_id", "user_id", "value")
          .as[(Long, Long, Double)], max = 25000).sortBy(_._1)
      val block = t(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      Replay.run(s, rows, Seq("event_id", "user_id", "value"), None,
          "append") {
        EventStream.filterBlocklist(_, block, "user_id", "c_custkey")
      }.orderBy("event_id")
    },
    // SCD-type-2 history: one validity interval per change, closed by
    // the next change's sequence; deletes close without opening.
    Query("qc02_scd2_history", Some(
      """WITH dl AS (SELECT user_id, epoch_us(ts) AS seq, value,
        |  CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        | FROM events WHERE user_id < 50)
        |SELECT user_id, value, seq AS valid_from,
        | LEAD(seq) OVER (PARTITION BY user_id ORDER BY seq) AS valid_to,
        | LEAD(seq) OVER (PARTITION BY user_id ORDER BY seq) IS NULL AS is_current
        |FROM dl QUALIFY op <> 'D'
        |ORDER BY user_id, valid_from""".stripMargin)) { (s, d) =>
      val delta = t(s, d, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("ts").as("seq"),
          col("value"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"))
      graft.operators.Cdc.scd2History(delta, Seq("user_id"), "seq", "op")
        .select(col("user_id"), col("value"), col("valid_from"),
          col("valid_to"), col("is_current"))
        .orderBy("user_id", "valid_from")
    },
    // The same session semantics through Spark's BUILT-IN session_window
    // aggregation (declarative merge planned by Catalyst) — checked against
    // the identical gap-islands oracle as qs02, so the custom stateful
    // operator and the built-in agree with the oracle AND each other.
    Query("qs03_session_window", Some(
      s"""WITH $gapSessionCtes
        |SELECT user_id, MIN(us) AS start_us, MAX(us) AS end_us,
        | CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin)) { (s, d) =>
      EventStream.sessionWindows(t(s, d, "events"), gapMinutes = 30)
        .orderBy("user_id", "start_us")
    },
    // Peak concurrency per day: sweep-line over each user's daily
    // activity interval — the "how many users at once" capacity metric.
    // same sweep: default RANGE frame makes order-peer rows share one
    // cumulative value, so the running sum is engine-deterministic
    Query("qs10_peak_concurrency", Some(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
        |iv AS (SELECT user_id, tus // 86400000000 AS day,
        |    MIN(tus) AS s, MAX(tus) AS en FROM e GROUP BY 1, 2),
        |pts AS (SELECT day, s AS t, CAST(1 AS BIGINT) AS delta FROM iv
        |  UNION ALL SELECT day, en, CAST(-1 AS BIGINT) FROM iv),
        |run AS (SELECT day, t, delta,
        |    CAST(SUM(delta) OVER (PARTITION BY day ORDER BY t, delta DESC) AS BIGINT) AS conc
        |  FROM pts),
        |pk AS (SELECT day, MAX(conc) AS peak FROM run GROUP BY day),
        |n AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_intervals FROM iv GROUP BY day)
        |SELECT r.day, n.n_intervals, p.peak, MIN(r.t) AS t_peak_us
        |FROM run r JOIN pk p ON r.day = p.day AND r.conc = p.peak
        |JOIN n ON n.day = r.day
        |GROUP BY r.day, n.n_intervals, p.peak ORDER BY r.day""".stripMargin)) { (s, d) =>
      EventStream.peakConcurrency(t(s, d, "events")).orderBy("day")
    },
    // Bounce/exit rates per entry type: 30-min-gap sessions, first/last
    // event per session, single-event sessions are bounces.
    // the cumulative new-session flag replays sessionization exactly;
    // entry/exit via first/last_value over the session partition
    Query("qs11_bounce_rates", Some(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, event_type
        |  FROM events),
        |f AS (SELECT user_id, event_id, tus, event_type,
        |    CASE WHEN tus - LAG(tus) OVER w > 1800000000 OR
        |              LAG(tus) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |g AS (SELECT user_id, event_type, tus, event_id,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f),
        |h AS (SELECT user_id, sid, event_type,
        |    FIRST_VALUE(event_type) OVER ws AS fv,
        |    LAST_VALUE(event_type) OVER (PARTITION BY user_id, sid
        |      ORDER BY tus, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv
        |  FROM g WINDOW ws AS (PARTITION BY user_id, sid ORDER BY tus, event_id)),
        |sess AS (SELECT user_id, sid,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    MAX(fv) AS entry_type, MAX(lv) AS exit_type
        |  FROM h GROUP BY user_id, sid),
        |a AS (SELECT entry_type, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |    CAST(COALESCE(SUM(CASE WHEN n_events = 1 THEN 1 END), 0) AS BIGINT)
        |      AS n_bounces,
        |    CAST(COALESCE(SUM(CASE WHEN exit_type = entry_type THEN 1 END), 0)
        |      AS BIGINT) AS n_exits_here
        |  FROM sess GROUP BY entry_type)
        |SELECT entry_type, n_sessions, n_bounces,
        |  (n_bounces * 1000000) // n_sessions AS bounce_ppm, n_exits_here
        |FROM a ORDER BY entry_type""".stripMargin)) { (s, d) =>
      EventStream.bounceRates(t(s, d, "events"), gapMinutes = 30)
        .orderBy("entry_type")
    },
    // Incremental aggregate maintenance: a per-user rollup built from
    // 80% of events refreshed with the other 20% as a delta must equal
    // the full-scan aggregate — the invariant IS the oracle.
    // the invariant oracle: merged(base, delta) must equal the full scan
    Query("qc05_incremental_agg", Some(
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)) { (s, d) =>
      val ev = t(s, d, "events")
      val base = ev.filter(col("event_id") % 5 =!= 0)
        .groupBy("user_id").agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(30,2)")).as("sum_value"))
      val delta = ev.filter(col("event_id") % 5 === 0)
      graft.operators.Cdc.mergeAggDeltas(base, delta, "user_id", "value")
        .select(col("user_id"), col("n"),
          col("sum_value").cast("double").as("total"))
        .orderBy("user_id")
    },
    // Online feature-store maintenance: the STREAMING mapGroupsWithState
    // path replayed over 3 micro-batches; each user's final emitted
    // feature row must equal the batch aggregate the oracle computes.
    // Per-user token-bucket rate limiting under the oracle: the REAL
    // streaming stateful operator (flatMapGroupsWithState, Append) fed
    // a 3-micro-batch event-time-ordered replay; the oracle replays the
    // identical integer micro-token fold in a recursive CTE.
    // the streaming path's final per-user state must equal the batch agg
    Query("qs17_rate_limit", Some(
      """WITH RECURSIVE e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS i
        |  FROM events WHERE user_id < 300),
        |st AS (
        |  SELECT user_id, event_id, tus, i,
        |    TRUE AS accepted,
        |    CAST(2000000 AS BIGINT) AS level_after
        |  FROM e WHERE i = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.tus, e.i,
        |    LEAST(3000000, st.level_after
        |      + LEAST(GREATEST(0, e.tus - st.tus), 3000001) * 1)
        |      >= 1000000 AS accepted,
        |    CASE WHEN LEAST(3000000, st.level_after
        |        + LEAST(GREATEST(0, e.tus - st.tus), 3000001) * 1) >= 1000000
        |      THEN LEAST(3000000, st.level_after
        |        + LEAST(GREATEST(0, e.tus - st.tus), 3000001) * 1) - 1000000
        |      ELSE LEAST(3000000, st.level_after
        |        + LEAST(GREATEST(0, e.tus - st.tus), 3000001) * 1)
        |    END AS level_after
        |  FROM st JOIN e ON e.user_id = st.user_id AND e.i = st.i + 1)
        |SELECT user_id, event_id, tus, accepted,
        |  CAST(level_after AS BIGINT) AS level_after
        |FROM st ORDER BY user_id, tus, event_id""".stripMargin)) { (s, d) =>
      import s.implicits._
      val rows = Replay.bounded(
        t(s, d, "events").filter(col("user_id") < 300)
          .select(col("user_id"), col("event_id"), col("ts"))
          .as[(Long, Long, Long)], max = 25000).sortBy(r => (r._3, r._2))
      Replay.run(s, rows, Seq("user_id", "event_id", "ts"), Some(4),
          "append") {
        EventStream.rateLimit(_, capacity = 3, refillPerSec = 1)
      }.orderBy("user_id", "tus", "event_id")
    },
    Query("qs12_user_features", Some(
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_tus,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2)) * 100) AS BIGINT) AS sum_cents
        |FROM events WHERE user_id < 300
        |GROUP BY user_id ORDER BY user_id""".stripMargin)) { (s, d) =>
      import s.implicits._
      // Replay set bounded by the deterministic key filter (qs08's
      // discipline): O(|user_id < 300|) at every SF, hard-capped by the
      // shared Replay.bounded gather — the r9 verdict's #1.
      val rows = Replay.bounded(
        t(s, d, "events").filter(col("user_id") < 300)
          .select(col("user_id"), col("ts"), col("value"))
          .as[(Long, Long, Double)], max = 25000).sortBy(r => (r._2, r._1))
      Replay.run(s, rows, Seq("user_id", "ts", "value"), Some(4),
          "update")(EventStream.runningUserFeatures)
        // the serving-table upsert: each user's LAST emission (max n) wins
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("last_tus"),
          col("sum_cents"))).as("f"))
        .select(col("user_id"), col("f.n_events").as("n_events"),
          col("f.last_tus").as("last_tus"), col("f.sum_cents").as("sum_cents"))
        .orderBy("user_id")
    },
    // Snapshot diff — the inverse of the CDC apply: two keyed per-user
    // aggregates diffed into the minimal I/U/D changelog (nightly-dump
    // reconciliation). Users 300-349 exist only before (D), even-id-only
    // users only after (I), everyone else whose tuple moved is a U.
    // same full-outer diff, same null-safe tuple compare (IS DISTINCT
    // FROM == Spark's negated <=>), same decimal->double sum discipline
    Query("qc04_snapshot_diff", Some(
      """WITH ev AS (SELECT user_id, event_id,
        |    CAST(value AS DECIMAL(30,2)) AS dv FROM events),
        |b AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(dv) AS DOUBLE) AS total
        |  FROM ev WHERE user_id < 350 AND event_id % 2 = 0 GROUP BY 1),
        |a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(dv) AS DOUBLE) AS total
        |  FROM ev WHERE user_id < 300 GROUP BY 1),
        |j AS (SELECT COALESCE(b.user_id, a.user_id) AS user_id,
        |    b.user_id IS NOT NULL AS in_b, a.user_id IS NOT NULL AS in_a,
        |    b.n AS bn, b.total AS bt, a.n AS an, a.total AS a_t
        |  FROM b FULL OUTER JOIN a ON b.user_id = a.user_id)
        |SELECT user_id,
        |  CASE WHEN NOT in_b THEN 'I' WHEN NOT in_a THEN 'D' ELSE 'U' END AS op,
        |  CASE WHEN NOT in_a THEN bn ELSE an END AS n,
        |  CASE WHEN NOT in_a THEN bt ELSE a_t END AS total
        |FROM j
        |WHERE NOT in_b OR NOT in_a
        |  OR bn IS DISTINCT FROM an OR bt IS DISTINCT FROM a_t
        |ORDER BY user_id""".stripMargin)) { (s, d) =>
      val ev = t(s, d, "events")
      def snap(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(30,2)")).cast("double").as("total"))
      val before = snap(ev.filter(col("user_id") < 350 && col("event_id") % 2 === 0))
      val after = snap(ev.filter(col("user_id") < 300))
      graft.operators.Cdc.snapshotDiff(before, after, Seq("user_id"))
        .orderBy("user_id")
    },
    // Streaming-shaped windowed CMS: the per-window 2xW counter table
    // (the mergeable sketch itself — what a stream SHIPS) probed by the
    // distinct event types for per-window heavy-hitter estimates.
    // per-window bucket counters replayed from raw events, probed by the
    // distinct value set — the qx06 hex-prefix formula per window
    Query("qs09_cms_windowed", Some(
      s"""WITH ev AS (SELECT epoch_us(ts) AS us,
        |    CAST(event_type AS VARCHAR) AS v FROM events),
        |w AS (SELECT us - us % 3600000000 AS wstart_us, v FROM ev),
        |b AS (SELECT wstart_us, v, i,
        |    ${hex52("md5('c' || i || '_' || v)")} % 64 AS bkt
        |  FROM w CROSS JOIN (SELECT unnest([0, 1]) AS i)),
        |counters AS (SELECT wstart_us, i, bkt, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2, 3),
        |vals AS (SELECT DISTINCT v FROM ev),
        |probe AS (SELECT v, i,
        |    ${hex52("md5('c' || i || '_' || v)")} % 64 AS bkt
        |  FROM vals CROSS JOIN (SELECT unnest([0, 1]) AS i)),
        |est AS (SELECT c.wstart_us, p.v, MIN(c.c) AS cms_est,
        |    COUNT(*) AS nr
        |  FROM probe p JOIN counters c USING (i, bkt) GROUP BY 1, 2)
        |SELECT wstart_us, v AS event_type, cms_est
        |FROM est WHERE nr = 2 ORDER BY wstart_us, event_type""".stripMargin)) { (s, d) =>
      val width = 64
      val counters = EventStream.cmsCountersWindowed(
        t(s, d, "events"), "event_type", windowMinutes = 60,
        width = width).toDF()
      val vals = t(s, d, "events")
        .select(col("event_type").cast("string").as("v")).distinct()
      def bucket(i: Int) =
        (conv(substring(md5(concat(lit(s"c${i}_"), col("v"))), 1, 13), 16, 10)
          .cast("long") % width).cast("int")
      val probe = vals
        .select(col("v"), lit(0).as("i"), bucket(0).as("b"))
        .unionAll(vals.select(col("v"), lit(1).as("i"), bucket(1).as("b")))
      counters.join(probe, Seq("i", "b"))
        .groupBy("wstart_us", "v")
        .agg(min("c").as("cms_est"), count(lit(1)).as("nr"))
        // a missing counter row is a zero bucket -> est 0 -> not a hitter
        .filter(col("nr") === 2)
        .select(col("wstart_us"), col("v").as("event_type"), col("cms_est"))
        .orderBy("wstart_us", "event_type")
    },
    // WebDataset-style shard packing: per-source greedy first-fit into
    // ~4 KB shards in doc_id order — per-group window, closed-form shard id.
    Query("qm03_shard_packing", Some(
      """WITH d AS (SELECT source AS grp, doc_id AS id, n_chars AS sz,
        |    CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS bef
        |  FROM documents)
        |SELECT grp, bef // 4096 AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(sz) AS BIGINT) AS bytes,
        |  CAST(MIN(id) AS BIGINT) AS min_id, CAST(MAX(id) AS BIGINT) AS max_id
        |FROM d GROUP BY grp, bef // 4096 ORDER BY grp, shard""".stripMargin)) { (s, d) =>
      graft.operators.Layout.shardPacking(
        Relational.t(s, d, "documents"), "n_chars", "source", "doc_id",
        targetBytes = 4096L)
    },
    // Point-in-time SCD2 enrichment: each purchase takes the dimension
    // version valid AT its own event time (leakage-safe joins).
    Query("qc06_pit_enrich", Some(
      """WITH dl AS (SELECT user_id, epoch_us(ts) AS seq, value,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        |  FROM events WHERE user_id < 50),
        |hist AS (SELECT user_id, value, seq AS valid_from,
        |    LEAD(seq) OVER (PARTITION BY user_id ORDER BY seq) AS valid_to
        |  FROM dl QUALIFY op <> 'D'),
        |facts AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events
        |  WHERE event_type = 'purchase' AND user_id < 50)
        |SELECT f.event_id, f.user_id, f.tus, h.value AS dim_value
        |FROM facts f LEFT JOIN hist h ON h.user_id = f.user_id
        |  AND h.valid_from <= f.tus
        |  AND (h.valid_to IS NULL OR f.tus < h.valid_to)
        |ORDER BY f.event_id""".stripMargin)) { (s, d) =>
      val ev = Relational.t(s, d, "events")
      val delta = ev.filter(col("user_id") < 50)
        .select(col("user_id"), col("ts").as("seq"), col("value"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"))
      val dims = graft.operators.Cdc.scd2History(delta, Seq("user_id"),
          "seq", "op")
        .select("user_id", "value", "valid_from", "valid_to", "is_current")
      val facts = ev
        .filter(col("event_type") === "purchase" && col("user_id") < 50)
        .select(col("event_id"), col("user_id"), col("ts").as("tus"))
      graft.operators.Cdc.pitEnrich(facts, dims, Seq("user_id"),
          "event_id", "tus")
        .orderBy("event_id")
    },
    // Kafka-style changelog compaction: one net op per key; I..D pairs
    // annihilate entirely.
    Query("qc07_changelog_compact", Some(
      """WITH dl AS (SELECT user_id, epoch_us(ts) AS seq, value,
        |    CASE WHEN event_type = 'error' THEN 'D'
        |         WHEN event_type = 'signup' THEN 'I' ELSE 'U' END AS op
        |  FROM events WHERE user_id < 80),
        |w AS (SELECT user_id, seq, value, op,
        |    FIRST_VALUE(op) OVER (PARTITION BY user_id ORDER BY seq) AS fop,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rnd
        |  FROM dl),
        |l AS (SELECT user_id, seq, value, op, fop FROM w WHERE rnd = 1)
        |SELECT user_id, seq,
        |  CASE WHEN op = 'D' THEN 'D'
        |       WHEN fop = 'I' THEN 'I' ELSE 'U' END AS op, value
        |FROM l
        |WHERE NOT (fop = 'I' AND op = 'D')
        |ORDER BY user_id""".stripMargin)) { (s, d) =>
      val delta = Relational.t(s, d, "events").filter(col("user_id") < 80)
        .select(col("user_id"), col("ts").as("seq"), col("value"),
          when(col("event_type") === "error", "D")
            .when(col("event_type") === "signup", "I").otherwise("U")
            .as("op"))
      graft.operators.Cdc.compactChangelog(delta, Seq("user_id"), "seq", "op")
        .orderBy("user_id")
    }
  )
}
