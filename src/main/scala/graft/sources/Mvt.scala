package graft.sources

import scala.collection.mutable.ArrayBuffer

/** Mapbox Vector Tile (MVT) codec — pure JVM, written from the public MVT
  * spec (https://github.com/mapbox/vector-tile-spec, v2.1) and the protobuf
  * wire format. Replaces the reference's `mapbox_vector_tile.decode` call
  * (`/root/reference/label_maker_dask/main.py:41`).
  *
  * Coordinate convention: like the reference's Python decoder defaults
  * (y_coord_down=False), decoded coordinates are emitted with the y axis
  * flipped to a bottom-left origin: y_out = extent - y_wire. The label
  * pipeline's own pixel conversion (`label.py:90-96`) composes on top of
  * this, so matching it here is load-bearing for label parity.
  *
  * Property values are stringified (engine data model, SURVEY §1.2):
  * booleans as "true"/"false", integers without decimal point, doubles via
  * shortest round-trip (matches Spark's cast-to-string for the filter DSL).
  */
object Mvt {

  /** One decoded feature in tile-local coordinates (0..extent, bottom-left
    * origin). `parts` flattens any geometry to a list of coordinate runs:
    * Point/MultiPoint -> one run per point; LineString/MultiLineString ->
    * one run per line; Polygon/MultiPolygon -> one run per ring (closed). */
  final case class MvtFeature(
      layer: String,
      geomType: String, // "Point" | "LineString" | "Polygon" (GeoJSON-style, Multi* collapsed)
      parts: Array[Array[(Double, Double)]],
      props: Map[String, String],
      id: Option[Long],
      multi: Boolean)

  // ---- protobuf wire primitives ----

  private final class Reader(val buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def varint: Long = {
      var shift = 0; var result = 0L
      while (true) {
        val b = buf(pos); pos += 1
        result |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
      }
      result
    }
    def bytes: Array[Byte] = {
      val len = varint.toInt
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + len)
      pos += len
      out
    }
    def sub: Reader = {
      val len = varint.toInt
      val r = new Reader(buf, pos, pos + len)
      pos += len
      r
    }
    def fixed32: Int = {
      var v = 0
      var i = 0
      while (i < 4) { v |= (buf(pos + i) & 0xff) << (8 * i); i += 1 }
      pos += 4
      v
    }
    def fixed64: Long = {
      var v = 0L
      var i = 0
      while (i < 8) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8
      v
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint
      case 1 => pos += 8
      case 2 => val len = varint.toInt; pos += len
      case 5 => pos += 4
      case _ => throw new IllegalArgumentException(s"wire type $wireType")
    }
  }

  private def zigzagDecode(n: Long): Long = (n >>> 1) ^ -(n & 1)
  private def zigzagEncode(n: Long): Long = (n << 1) ^ (n >> 63)

  // ---- decode ----

  /** Decode a full tile: layerName -> features. Empty input yields an
    * empty map; malformed input may throw (like the reference's decoder) —
    * callers treat any failure as the empty tile `{}` (`main.py:38-44`,
    * mirrored in TileSources.fetch). */
  def decode(data: Array[Byte]): Map[String, Seq[MvtFeature]] = {
    val out = scala.collection.mutable.LinkedHashMap[String, Seq[MvtFeature]]()
    val r = new Reader(data, 0, data.length)
    while (r.hasMore) {
      val key = r.varint
      val field = (key >> 3).toInt
      val wire = (key & 7).toInt
      if (field == 3 && wire == 2) {
        val (name, feats) = decodeLayer(r.sub)
        out(name) = feats
      } else r.skip(wire)
    }
    out.toMap
  }

  private def decodeLayer(r: Reader): (String, Seq[MvtFeature]) = {
    var name = ""
    var extent = 4096L
    val keys = ArrayBuffer[String]()
    val values = ArrayBuffer[String]()
    val rawFeatures = ArrayBuffer[Reader]()
    while (r.hasMore) {
      val key = r.varint
      val field = (key >> 3).toInt
      val wire = (key & 7).toInt
      field match {
        case 1 => name = new String(r.bytes, java.nio.charset.StandardCharsets.UTF_8)
        case 2 => rawFeatures += r.sub
        case 3 => keys += new String(r.bytes, java.nio.charset.StandardCharsets.UTF_8)
        case 4 => values += decodeValue(r.sub)
        case 5 => extent = r.varint
        case _ => r.skip(wire)
      }
    }
    val feats = rawFeatures.map(decodeFeature(_, keys, values, name, extent)).toSeq
    (name, feats)
  }

  private def decodeValue(r: Reader): String = {
    var v = ""
    while (r.hasMore) {
      val key = r.varint
      val field = (key >> 3).toInt
      val wire = (key & 7).toInt
      field match {
        case 1 => v = new String(r.bytes, java.nio.charset.StandardCharsets.UTF_8)
        case 2 => // float (little-endian fixed32)
          v = fmtDouble(java.lang.Float.intBitsToFloat(r.fixed32).toDouble)
        case 3 => // double (little-endian fixed64)
          v = fmtDouble(java.lang.Double.longBitsToDouble(r.fixed64))
        case 4 => v = r.varint.toString
        case 5 => v = r.varint.toString
        case 6 => v = zigzagDecode(r.varint).toString
        case 7 => v = if (r.varint != 0) "true" else "false"
        case _ => r.skip(wire)
      }
    }
    v
  }

  /** Shortest round-trip double formatting (Java Double.toString matches
    * Python repr for the common cases, e.g. "12.0", "0.5"). MVT carries
    * typed values, so integer-typed values never pass through here. */
  private def fmtDouble(d: Double): String = java.lang.Double.toString(d)

  private def decodeFeature(r: Reader, keys: ArrayBuffer[String],
      values: ArrayBuffer[String], layer: String, extent: Long): MvtFeature = {
    var id: Option[Long] = None
    var gtype = 0
    var tags: Array[Int] = Array.empty
    var geom: Array[Int] = Array.empty
    while (r.hasMore) {
      val key = r.varint
      val field = (key >> 3).toInt
      val wire = (key & 7).toInt
      field match {
        case 1 => id = Some(r.varint)
        case 2 =>
          val sr = r.sub
          val b = ArrayBuffer[Int]()
          while (sr.hasMore) b += sr.varint.toInt
          tags = b.toArray
        case 3 => gtype = r.varint.toInt
        case 4 =>
          val sr = r.sub
          val b = ArrayBuffer[Int]()
          while (sr.hasMore) b += sr.varint.toInt
          geom = b.toArray
        case _ => r.skip(wire)
      }
    }
    val props = tags.grouped(2).collect {
      case Array(k, v) if k < keys.length && v < values.length => keys(k) -> values(v)
    }.toMap
    val (parts, multi) = decodeGeometry(geom, gtype, extent)
    val typeName = gtype match {
      case 1 => "Point"
      case 2 => "LineString"
      case 3 => "Polygon"
      case _ => "Unknown"
    }
    MvtFeature(layer, typeName, parts, props, id, multi)
  }

  /** Geometry command stream -> coordinate runs (y flipped to bottom-left
    * origin, matching the Python decoder's default). */
  private def decodeGeometry(cmds: Array[Int], gtype: Int, extent: Long): (Array[Array[(Double, Double)]], Boolean) = {
    val parts = ArrayBuffer[Array[(Double, Double)]]()
    var cur = ArrayBuffer[(Double, Double)]()
    var cx = 0L
    var cy = 0L
    var i = 0
    var moveCount = 0
    def flushPart(): Unit = if (cur.nonEmpty) { parts += cur.toArray; cur = ArrayBuffer() }
    while (i < cmds.length) {
      val cmd = cmds(i) & 0x7
      val count = cmds(i) >>> 3
      i += 1
      cmd match {
        case 1 => // MoveTo
          var c = 0
          while (c < count) {
            flushPart()
            cx += zigzagDecode(cmds(i).toLong); cy += zigzagDecode(cmds(i + 1).toLong)
            i += 2
            cur += ((cx.toDouble, (extent - cy).toDouble))
            c += 1
            moveCount += 1
          }
        case 2 => // LineTo
          var c = 0
          while (c < count) {
            cx += zigzagDecode(cmds(i).toLong); cy += zigzagDecode(cmds(i + 1).toLong)
            i += 2
            cur += ((cx.toDouble, (extent - cy).toDouble))
            c += 1
          }
        case 7 => // ClosePath: repeat first point of the ring
          if (cur.nonEmpty) cur += cur.head
        case _ => // unknown command: stop parsing this geometry
          i = cmds.length
      }
    }
    flushPart()
    (parts.toArray, moveCount > 1)
  }

  // ---- encode (fixtures / stub tile server) ----

  final case class EncFeature(
      geomType: String, // "Point" | "LineString" | "Polygon"
      parts: Seq[Seq[(Long, Long)]], // tile-local, bottom-left origin (like decode output)
      props: Map[String, Any],
      id: Option[Long] = None)

  private final class Writer {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def tag(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)
    def bytes(field: Int, b: Array[Byte]): Unit = { tag(field, 2); varint(b.length.toLong); out.write(b) }
    def str(field: Int, s: String): Unit = bytes(field, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def result: Array[Byte] = out.toByteArray
  }

  /** Encode one layer ("osm" by default, matching `label.py:13`). */
  def encode(features: Seq[EncFeature], layerName: String = "osm", extent: Long = 4096L): Array[Byte] = {
    val keys = ArrayBuffer[String]()
    val values = ArrayBuffer[Any]()
    def keyIdx(k: String): Int = { val i = keys.indexOf(k); if (i >= 0) i else { keys += k; keys.length - 1 } }
    def valIdx(v: Any): Int = { val i = values.indexOf(v); if (i >= 0) i else { values += v; values.length - 1 } }

    val featBytes = features.map { f =>
      val w = new Writer
      f.id.foreach { fid => w.tag(1, 0); w.varint(fid) }
      // tags
      val tw = new Writer
      f.props.foreach { case (k, v) => tw.varint(keyIdx(k).toLong); tw.varint(valIdx(v).toLong) }
      w.bytes(2, tw.result)
      val gtype = f.geomType match {
        case "Point" => 1
        case "LineString" => 2
        case "Polygon" => 3
      }
      w.tag(3, 0); w.varint(gtype.toLong)
      // geometry commands (wire y is top-left origin: y_wire = extent - y)
      val gw = new Writer
      var cx = 0L
      var cy = 0L
      f.parts.foreach { part0 =>
        // drop the duplicate closing point for polygons (re-added by ClosePath)
        val part = if (gtype == 3 && part0.length > 1 && part0.head == part0.last) part0.init else part0
        if (gtype == 1) {
          gw.varint((part.length.toLong << 3) | 1) // MoveTo xN
          part.foreach { case (x, y) =>
            val yw = extent - y
            gw.varint(zigzagEncode(x - cx)); gw.varint(zigzagEncode(yw - cy))
            cx = x; cy = yw
          }
        } else {
          gw.varint((1L << 3) | 1) // MoveTo x1
          val (hx, hy) = part.head
          val hyw = extent - hy
          gw.varint(zigzagEncode(hx - cx)); gw.varint(zigzagEncode(hyw - cy))
          cx = hx; cy = hyw
          gw.varint(((part.length - 1).toLong << 3) | 2) // LineTo
          part.tail.foreach { case (x, y) =>
            val yw = extent - y
            gw.varint(zigzagEncode(x - cx)); gw.varint(zigzagEncode(yw - cy))
            cx = x; cy = yw
          }
          if (gtype == 3) gw.varint(7L) // ClosePath
        }
      }
      w.bytes(4, gw.result)
      w.result
    }

    val lw = new Writer
    lw.tag(15, 0); lw.varint(2L) // version
    lw.str(1, layerName)
    featBytes.foreach(fb => lw.bytes(2, fb))
    keys.foreach(k => lw.str(3, k))
    values.foreach { v =>
      val vw = new Writer
      v match {
        case s: String => vw.str(1, s)
        case b: Boolean => vw.tag(7, 0); vw.varint(if (b) 1L else 0L)
        case i: Int => vw.tag(4, 0); vw.varint(i.toLong)
        case l: Long => vw.tag(4, 0); vw.varint(l)
        case d: Double =>
          vw.tag(3, 1)
          val bits = java.lang.Double.doubleToLongBits(d)
          var j = 0
          while (j < 8) { vw.out.write(((bits >> (8 * j)) & 0xff).toInt); j += 1 }
        case other => vw.str(1, String.valueOf(other))
      }
      lw.bytes(4, vw.result)
    }
    lw.tag(5, 0); lw.varint(extent)

    val tw = new Writer
    tw.bytes(3, lw.result)
    tw.result
  }
}
