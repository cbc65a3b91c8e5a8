package graft.sources

import graft.core.Tiles
import graft.model.{Coord, FeatureRow, TileFeature}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** HTTP tile sources (SURVEY §2.1 S2/S4/S6/S7).
  *
  * Executor-side fetches run in one `mapPartitions` pass ([[TileSources.fetch]])
  * with one shared `HttpClient` per JVM (the reference builds a session per task via
  * `requests.get`, `main.py:39`/`utils.py:50`); failures follow the
  * reference's semantics: label fetch/decode errors degrade to an empty
  * feature set (`main.py:38-44`) — but are counted in an accumulator
  * instead of silently swallowed.
  */
object TileSources {

  /** One pooled client per executor JVM (shared with CogReader). */
  @transient private[sources] lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10))
    .followRedirects(HttpClient.Redirect.NORMAL)
    .build()

  def httpGet(url: String): Array[Byte] = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(30)).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(s"HTTP ${resp.statusCode()} for $url")
    resp.body()
  }

  private def httpGetAsync(url: String): java.util.concurrent.CompletableFuture[Array[Byte]] = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(30)).GET().build()
    client.sendAsync(req, HttpResponse.BodyHandlers.ofByteArray()).thenApply { resp =>
      if (resp.statusCode() / 100 != 2)
        throw new java.io.IOException(s"HTTP ${resp.statusCode()} for $url")
      resp.body()
    }
  }

  /** Windowed lookahead over a partition's rows: `start` runs up to
    * `window` rows ahead of the consumer, so the requests it starts
    * overlap instead of serializing on per-request latency (network RTT,
    * server stalls). Order-preserving; the consumer joins what `start`
    * returned. This is what makes HTTP-bound fetches latency-tolerant at
    * any partition count — the knob that matters when the fetch, not the
    * CPU, is the bottleneck. */
  private[sources] def prefetched[A, B](it: Iterator[A], window: Int)(start: A => B): Iterator[(A, B)] = {
    val queue = scala.collection.mutable.Queue[(A, B)]()
    new Iterator[(A, B)] {
      private def fill(): Unit =
        while (queue.size < window && it.hasNext) {
          val a = it.next()
          queue.enqueue((a, start(a)))
        }
      override def hasNext: Boolean = { fill(); queue.nonEmpty }
      override def next(): (A, B) = { fill(); queue.dequeue() }
    }
  }

  /** Tiles per partition whose requests are in flight at once. */
  val FetchWindow = 16

  /** `str.format`-style URL templating (`utils.py:27-29`) with the
    * SafeDict ACCESS_TOKEN substitution (`utils.py:19-24,46-48`): unknown
    * placeholders survive; ACCESS_TOKEN comes from the environment. */
  def fillUrl(template: String, z: Int, x: Int, y: Int): String = {
    val withToken = sys.env.get("ACCESS_TOKEN")
      .map(t => template.replace("{ACCESS_TOKEN}", t)).getOrElse(template)
    withToken
      .replace("{z}", z.toString).replace("{x}", x.toString).replace("{y}", y.toString)
  }

  // ---- S4/S6: imagery fetch ----

  /** Decoded image: shape + raw interleaved bytes (bands-last, matching the
    * reference's `np.array(Image.open(...))` layout, `utils.py:52`). */
  final case class ImageTile(z: Int, x: Int, y: Int,
      height: Int, width: Int, bands: Int, data: Array[Byte])

  def decodeImage(bytes: Array[Byte]): (Int, Int, Int, Array[Byte]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) throw new java.io.IOException("undecodable image")
    val w = img.getWidth
    val h = img.getHeight
    val hasAlpha = img.getColorModel.hasAlpha
    val bands = if (img.getColorModel.getNumComponents == 1) 1 else if (hasAlpha) 4 else 3
    val out = new Array[Byte](h * w * bands)
    // bulk getRGB: one color-model conversion pass, not one call per pixel
    val argb = img.getRGB(0, 0, w, h, null, 0, w)
    var p = 0
    var i = 0
    val n = h * w
    while (p < n) {
      val v = argb(p)
      if (bands == 1) { out(i) = (v & 0xff).toByte; i += 1 }
      else {
        out(i) = ((v >> 16) & 0xff).toByte
        out(i + 1) = ((v >> 8) & 0xff).toByte
        out(i + 2) = (v & 0xff).toByte
        if (bands == 4) { out(i + 3) = ((v >> 24) & 0xff).toByte; i += 4 } else i += 3
      }
      p += 1
    }
    (h, w, bands, out)
  }

  /** WMS URL construction (`utils.py:65-95`): parse version + crs/srs from
    * the query string, project the tile bounds (edges densified with 21
    * points like the reference's `transform_bounds(..., densify_pts=21)`),
    * axis-swap for 1.3.0, substitute `{bbox}`. Supported SRS families (see
    * the EPSG table in [[graft.core.Proj]]): EPSG:4326, 3857/900913, 3395,
    * UTM 326xx/327xx/258xx, LCC 2154/3347/3034, Albers 5070, British
    * National Grid 27700 (Airy + Helmert datum), polar stereographic
    * 3413/3995/3031/3976. Unknown codes throw (reference parity: pyproj
    * would too, just later). */
  def wmsUrl(template: String, z: Int, x: Int, y: Int): String = {
    val lower = template.toLowerCase
    def qparam(k: String): Option[String] =
      lower.split('?').lift(1).flatMap(_.split('&').collectFirst {
        case kv if kv.startsWith(s"$k=") => kv.substring(k.length + 1)
      })
    val version = qparam("version").getOrElse("1.1.1")
    val srs = (if (version == "1.3.0") qparam("crs") else qparam("srs")).getOrElse("epsg:3857")
    val proj = graft.core.Proj.forward(srs).getOrElse(
      throw new java.io.IOException(
        "WMS: " + graft.core.Proj.unsupportedMessage(srs)))
    val b = Tiles.tileBounds(graft.core.TileKey(z, x, y))
    val (xmin, ymin, xmax, ymax) =
      graft.core.Proj.transformBounds(proj, b.west, b.south, b.east, b.north)
    // WMS 1.3.0 flips axis order for geographic CRSes (utils.py:87-89 flips
    // unconditionally for 1.3.0, mirroring rasterio's bounds tuple).
    val bbox =
      if (version == "1.3.0") Seq(ymin, xmin, ymax, xmax) else Seq(xmin, ymin, xmax, ymax)
    template.replace("{bbox}", bbox.mkString(","))
  }

  sealed trait ImagerySource
  case object TmsSource extends ImagerySource
  case object WmsSource extends ImagerySource
  case object CogSource extends ImagerySource

  /** TIFF magic bytes: classic `II*\0` / `MM\0*`, BigTIFF `II+\0` / `MM\0+`. */
  private[sources] def isTiffMagic(b: Array[Byte]): Boolean =
    b.length >= 4 && {
      val le = b(0) == 'I'.toByte && b(1) == 'I'.toByte
      val be = b(0) == 'M'.toByte && b(1) == 'M'.toByte
      (le && b(3) == 0 && (b(2) == 42 || b(2) == 43)) ||
        (be && b(2) == 0 && (b(3) == 42 || b(3) == 43))
    }

  /** S7 dispatch, resolved ONCE at plan time (the reference re-probes the
    * imagery path on every task, `utils.py:98-127`): `{bbox}` -> WMS;
    * .tif/.tiff/.vrt suffix -> COG; otherwise TMS.
    *
    * With `probeContent` (what [[images]] passes), a concrete (placeholder-
    * free) path with no recognizable extension is probed by its first 4
    * bytes via one ranged read — the reference checks file CONTENT
    * (rasterio driver in {GTiff, VRT}, `utils.py:98-113`), so a COG behind
    * a signed URL or API endpoint without a `.tif` suffix must still
    * dispatch to the COG source. Probe failures (unreachable, no range
    * support) fall back to the extension answer — such a source couldn't
    * be range-read as a COG anyway. */
  def dispatch(imagery: String, probeContent: Boolean = false): ImagerySource =
    if (imagery.contains("{bbox}")) WmsSource
    else if (imagery.matches("(?i).*\\.(tif|tiff|vrt)(\\?.*)?$")) CogSource
    else if (probeContent && !Seq("{z}", "{x}", "{y}").exists(imagery.contains)) {
      val magic =
        try {
          val r = CogReader.readerFor(imagery)
          try Some(r.read(0, 4)) finally r.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      if (magic.exists(isTiffMagic)) CogSource else TmsSource
    } else TmsSource

  /** One tile after the fetch pass: the decoded features of the label
    * layer, in `fidx` order, and the decoded image. `features` is empty
    * when the tile has none, lacks the layer, or its label fetch or decode
    * failed. Without imagery, `height = width = bands = 0` and `image` is
    * null. */
  final case class FetchedTile(z: Int, x: Int, y: Int, features: Seq[TileFeature],
      height: Int, width: Int, bands: Int, image: Array[Byte])

  /** S2-S7 in one pass, one row per tile (the reference's two Dask tasks
    * per tile, `main.py:90-97`): each tile's label request and image
    * request start together inside the same prefetch window; then both
    * are decoded and the tile is emitted whole, so labels and images never
    * need to be regrouped or joined by tile key.
    *
    * Label fetch or decode errors degrade to an empty feature set
    * (`main.py:38-44`) and are counted in `failures`. Image errors fail
    * the task (Spark retries), matching the reference's uncaught image
    * path (`main.py:50-63`) while keeping at-least-once semantics. The
    * imagery source is dispatched once, here at plan time; a COG is read
    * synchronously, tile by tile, as the consumer reaches it. */
  def fetch(tiles: DataFrame, labelSource: Option[String], imagery: Option[String],
      layer: String = "osm",
      failures: Option[LongAccumulator] = None): Dataset[FetchedTile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val source = imagery.map(i => (i, dispatch(i, probeContent = true)))
    tiles.select(col("z").cast("int"), col("x").cast("int"), col("y").cast("int"))
      .as[(Int, Int, Int)]
      .mapPartitions { it =>
        prefetched(it, FetchWindow) { case (z, x, y) =>
          val label = labelSource.map(s => httpGetAsync(fillUrl(s, z, x, y)))
          val image = source.collect {
            case (i, WmsSource) => httpGetAsync(wmsUrl(fillUrl(i, z, x, y), z, x, y))
            case (i, TmsSource) => httpGetAsync(fillUrl(i, z, x, y))
          }
          (label, image)
        }.map { case ((z, x, y), (label, image)) =>
          val features = label.fold(Seq.empty[TileFeature]) { f =>
            scala.util.Try(Mvt.decode(f.join())) match {
              case scala.util.Success(d) =>
                d.getOrElse(layer, Seq.empty).zipWithIndex.map { case (m, i) =>
                  TileFeature(i,
                    geomType = if (m.multi) "Multi" + m.geomType else m.geomType,
                    multi = m.multi,
                    parts = m.parts.map(_.map { case (px, py) => Coord(px, py) }.toSeq).toSeq,
                    props = m.props,
                    id = m.id)
                }
              case scala.util.Failure(_) =>
                failures.foreach(_.add(1L))
                Seq.empty
            }
          }
          val (h, w, bands, data) = (source, image) match {
            case (_, Some(f)) => decodeImage(f.join())
            case (Some((i, CogSource)), None) => CogReader.tile(i, graft.core.TileKey(z, x, y))
            case _ => (0, 0, 0, null)
          }
          FetchedTile(z, x, y, features, h, w, bands, data)
        }
      }
  }

  /** S2 + S3 — the relational feature rows of the label layer the pipeline
    * reads ("osm", `label.py:13`): [[fetch]] without imagery, one row per
    * feature. Tiles whose fetch or decode fails, or that lack the layer,
    * emit no rows. */
  def vectorFeatures(tiles: DataFrame, labelSource: String,
      layer: String = "osm",
      failures: Option[LongAccumulator] = None): Dataset[FeatureRow] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    fetch(tiles, Some(labelSource), None, layer, failures)
      .flatMap(t => t.features.map(_.toRow(t.z, t.x, t.y)))
  }

  /** S4/S5/S6 — imagery for every tile: [[fetch]] without labels. */
  def images(tiles: DataFrame, imagery: String): Dataset[ImageTile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    fetch(tiles, None, Some(imagery))
      .select(col("z"), col("x"), col("y"), col("height"), col("width"), col("bands"),
        col("image").as("data"))
      .as[ImageTile]
  }
}
