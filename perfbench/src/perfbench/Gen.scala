package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import java.security.MessageDigest

/** Seeded input generator. Everything the program reads comes from here:
  * JPEGs carrying EXIF GPS (the `Exif` tag walk's byte layout), GeoTIFFs
  * carrying ModelPixelScale + ModelTiepoint (the `GeoTiff` layout), JPEGs
  * with no location at all, model-output artifact files, and the parcel
  * (`predios`) rings as JSON lines. The generator also knows, for every
  * image, the expected classification: containing parcel, nearest-vertex
  * parcel (points in the gaps between parcels) or the unclassifiable
  * sentinel — computed on the coordinates exactly as the parsers decode
  * them, so ground truth and program agree bit for bit.
  */
object Gen {

  final case class Parcel(id: Long, codigo: String, nombre: String,
      seccion: String, tipouso: String, apl: String,
      ring: Array[(Double, Double)]) {
    def indice: String = s"${codigo}_${seccion}_${tipouso}_$apl"
  }

  /** One image: file name, bytes, decoded coordinates (None when the
    * file carries no location) and the expected catalog outcome. */
  final case class Image(name: String, bytes: Array[Byte], jpeg: Boolean,
      lonLat: Option[(Double, Double)], method: String,
      parcel: Option[Parcel]) {
    def indice: String = parcel match {
      case Some(p) if method != "unclassifiable" => p.indice
      case _ => Sentinel
    }
    def ext: String = if (jpeg) "jpg" else "tif"
    /** `BinarySource.dataLakeKey`: `{BR/|TIF/}{CODIGO}/{md5}.{ext}`. */
    def ruta: Option[String] = parcel.filter(_ => method != "unclassifiable")
      .map(p => s"${if (jpeg) "BR/" else "TIF/"}${p.codigo}/${md5Hex(bytes)}.$ext")
  }

  val Sentinel = "IMAGEN NO CLASIFICABLE"

  /** Parcel grid: `grid` × `grid` cells of `cell` degrees, one star-shaped
    * ring of `vertices` vertices per cell, inscribed with a margin so
    * neighbouring parcels never touch and the cell corners are gaps. */
  final case class Layout(grid: Int, vertices: Int, cell: Double = 0.01,
      lon0: Double = -72.5, lat0: Double = -38.5)

  final case class Mix(located: Double, gap: Double) // rest: no location

  def md5Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map(x => f"${x & 0xff}%02x").mkString

  def parcels(seed: Long, layout: Layout): IndexedSeq[Parcel] = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + 17L)
    val tipos = Array("EU", "PR", "PD", "NA")
    for {
      gy <- 0 until layout.grid
      gx <- 0 until layout.grid
    } yield {
      val id = (gy * layout.grid + gx + 1).toLong
      val (cx, cy) = center(layout, gx, gy)
      val ring = Array.tabulate(layout.vertices) { k =>
        val th = 2 * math.Pi * (k + 0.3 * rnd.nextDouble()) / layout.vertices
        val r = layout.cell * (0.31 + 0.1 * rnd.nextDouble())
        (cx + r * math.cos(th), cy + r * math.sin(th))
      }
      Parcel(id, f"CO$id%05d", s"Fundo $id", s"S${1 + rnd.nextInt(4)}",
        tipos(rnd.nextInt(tipos.length)), (1 + rnd.nextInt(9)).toString, ring)
    }
  }

  private def center(l: Layout, gx: Int, gy: Int): (Double, Double) =
    (l.lon0 + (gx + 0.5) * l.cell, l.lat0 + (gy + 0.5) * l.cell)

  /** Ray casting, same rule as `PointInPolygon.contains`. */
  def inside(ring: Array[(Double, Double)], x: Double, y: Double): Boolean = {
    var in = false
    var j = ring.length - 1
    for (i <- ring.indices) {
      val (xi, yi) = ring(i); val (xj, yj) = ring(j)
      if ((yi > y) != (yj > y) && x < (xj - xi) * (y - yi) / (yj - yi) + xi) in = !in
      j = i
    }
    in
  }

  /** Nearest vertex owner with `SpatialJoin.nearestVertexJoin`'s tie rule
    * (distance, then parcel id); None when the two best owners are too
    * close to call, so the generator can draw another point. */
  private def nearest(ps: IndexedSeq[Parcel], x: Double, y: Double): Option[Parcel] = {
    val best = ps.map { p =>
      p -> p.ring.map { case (vx, vy) => (x - vx) * (x - vx) + (y - vy) * (y - vy) }.min
    }.sortBy { case (p, d) => (d, p.id) }
    val (p1, d1) = best(0); val (_, d2) = best(1)
    if (d2 - d1 > 1e-9 * d2) Some(p1) else None
  }

  // ---------------------------------------------------------------- bytes

  /** A real baseline JPEG body (ImageIO-encoded seeded noise). The
    * location-bearing files splice an APP1 segment right after SOI. */
  private def baseJpeg(seed: Long): Array[Byte] = {
    val rnd = new java.util.SplittableRandom(seed)
    val img = new java.awt.image.BufferedImage(48, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 48) img.setRGB(x, y, rnd.nextInt(1 << 24))
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  /** DMS rationals for |deg|: (deg, min, sec·10⁴) and the decimal value
    * the EXIF walk decodes from them. */
  private def dms(v: Double): (Int, Int, Long, Double) = {
    val a = math.abs(v)
    val d = a.toInt
    val m = ((a - d) * 60).toInt
    val s10k = math.round(((a - d) * 60 - m) * 60 * 10000).min(599999L)
    (d, m, s10k, d + m / 60.0 + (s10k.toDouble / 10000.0) / 3600.0)
  }

  /** JPEG with an EXIF GPS IFD (little-endian TIFF inside APP1). Returns
    * the bytes and the decoded (lon, lat). */
  def jpegWithGps(base: Array[Byte], lon: Double, lat: Double): (Array[Byte], (Double, Double)) = {
    val (latD, latM, latS, latV) = dms(lat)
    val (lonD, lonM, lonS, lonV) = dms(lon)
    val tiff = ByteBuffer.allocate(128).order(ByteOrder.LITTLE_ENDIAN)
    tiff.put("II".getBytes); tiff.putShort(42); tiff.putInt(8)
    tiff.putShort(1)
    tiff.putShort(0x8825.toShort); tiff.putShort(4); tiff.putInt(1); tiff.putInt(26)
    tiff.putInt(0)
    tiff.putShort(4)
    tiff.putShort(1); tiff.putShort(2); tiff.putInt(2)
    tiff.put((if (lat < 0) 'S' else 'N').toByte); tiff.put(0.toByte); tiff.putShort(0)
    tiff.putShort(2); tiff.putShort(5); tiff.putInt(3); tiff.putInt(80)
    tiff.putShort(3); tiff.putShort(2); tiff.putInt(2)
    tiff.put((if (lon < 0) 'W' else 'E').toByte); tiff.put(0.toByte); tiff.putShort(0)
    tiff.putShort(4); tiff.putShort(5); tiff.putInt(3); tiff.putInt(104)
    tiff.putInt(0)
    tiff.position(80)
    tiff.putInt(latD); tiff.putInt(1); tiff.putInt(latM); tiff.putInt(1)
    tiff.putInt(latS.toInt); tiff.putInt(10000)
    tiff.putInt(lonD); tiff.putInt(1); tiff.putInt(lonM); tiff.putInt(1)
    tiff.putInt(lonS.toInt); tiff.putInt(10000)
    val app1Len = 2 + 6 + 128
    val out = ByteBuffer.allocate(base.length + 2 + app1Len)
    out.put(0xFF.toByte); out.put(0xD8.toByte)
    out.put(0xFF.toByte); out.put(0xE1.toByte)
    out.put((app1Len >> 8).toByte); out.put((app1Len & 0xFF).toByte)
    out.put("Exif".getBytes); out.put(0.toByte); out.put(0.toByte)
    out.put(tiff.array())
    out.put(base, 2, base.length - 2)
    (out.array(), (if (lon < 0) -lonV else lonV, if (lat < 0) -latV else latV))
  }

  /** JPEG without location: a COM segment carrying `tag` keeps the bytes
    * unique (content-addressed keys) without any EXIF. */
  def jpegNoGps(base: Array[Byte], tag: String): Array[Byte] = {
    val t = tag.getBytes("UTF-8")
    val out = ByteBuffer.allocate(base.length + 4 + t.length)
    out.put(0xFF.toByte); out.put(0xD8.toByte)
    out.put(0xFF.toByte); out.put(0xFE.toByte)
    out.put(((t.length + 2) >> 8).toByte); out.put(((t.length + 2) & 0xFF).toByte)
    out.put(t)
    out.put(base, 2, base.length - 2)
    out.array()
  }

  private val TiffSide = 64
  private val TiffPixel = 1.0 / 16384 // 2^-14 degrees: exact extent arithmetic

  /** GeoTIFF (little-endian) with width/height, ModelPixelScale,
    * ModelTiepoint and a small seeded 8-bit strip. Returns the bytes and
    * the extent centroid `GeoTiff.RasterMeta.centroid` decodes. */
  def geoTiff(rnd: java.util.SplittableRandom, lon: Double, lat: Double)
      : (Array[Byte], (Double, Double)) = {
    val half = TiffSide / 2.0 * TiffPixel
    val x0 = lon - half
    val y0 = lat + half
    val strip = 256
    val buf = ByteBuffer.allocate(272 + strip).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("II".getBytes); buf.putShort(42); buf.putInt(8)
    buf.putShort(5)
    buf.putShort(256); buf.putShort(3); buf.putInt(1)
    buf.putShort(TiffSide.toShort); buf.putShort(0)
    buf.putShort(257); buf.putShort(4); buf.putInt(1); buf.putInt(TiffSide)
    buf.putShort(273); buf.putShort(4); buf.putInt(1); buf.putInt(272)
    buf.putShort(33550.toShort); buf.putShort(12); buf.putInt(3); buf.putInt(200)
    buf.putShort(33922.toShort); buf.putShort(12); buf.putInt(6); buf.putInt(224)
    buf.putInt(0)
    buf.position(200)
    buf.putDouble(TiffPixel); buf.putDouble(TiffPixel); buf.putDouble(0.0)
    buf.position(224)
    buf.putDouble(0.0); buf.putDouble(0.0); buf.putDouble(0.0)
    buf.putDouble(x0); buf.putDouble(y0); buf.putDouble(0.0)
    buf.position(272)
    for (_ <- 0 until strip) buf.put(rnd.nextInt(256).toByte)
    // decoded exactly as GeoTiff.metaFromTiff + centroid compute it
    val gt0 = x0 - 0.0 * TiffPixel
    val gt3 = y0 + 0.0 * TiffPixel
    (buf.array(), (gt0 + TiffSide / 2.0 * TiffPixel, gt3 + TiffSide / 2.0 * -TiffPixel))
  }

  // ---------------------------------------------------------------- images

  /** `n` images named `<prefix>-<k>`. Exactly `jpegShare` of them are
    * JPEGs (the rest GeoTIFFs); `mix` splits them exactly into points
    * inside a parcel, points in the gaps between parcels (1-NN fallback)
    * and files without a location (a JPEG without EXIF, a TIFF without
    * geo tags). The seed decides order, places and bytes. */
  def images(seed: Long, prefix: String, n: Int, ps: IndexedSeq[Parcel],
      layout: Layout, mix: Mix, jpegShare: Double): IndexedSeq[Image] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + prefix.hashCode)
    val bases = Array.tabulate(4)(k => baseJpeg(seed * 31 + k))
    // exact shares, seeded order: every seed gets the same composition
    val nIn = math.round(n * mix.located).toInt
    val nGap = math.round(n * mix.gap).toInt
    val kinds = shuffle(rnd, Seq.fill(nIn)(0) ++ Seq.fill(nGap)(1) ++ Seq.fill(n - nIn - nGap)(2))
    val nJpeg = math.round(n * jpegShare).toInt
    val jpegs = shuffle(rnd, Seq.fill(nJpeg)(true) ++ Seq.fill(n - nJpeg)(false))
    // located images visit the parcels in a seeded round robin
    val order = shuffle(rnd, ps.indices)
    var visited = 0
    (0 until n).map { k =>
      val name = s"$prefix-$k"
      val jpeg = jpegs(k)
      val ext = if (jpeg) "jpg" else "tif"
      if (kinds(k) == 2) {
        val bytes =
          if (jpeg) jpegNoGps(bases(k % 4), name)
          else {
            // a plain TIFF: only the first 3 IFD entries (no scale, no
            // tiepoint) stay visible, so the tag walk finds no location
            val t = geoTiff(rnd, layout.lon0, layout.lat0)._1
            ByteBuffer.wrap(t).order(ByteOrder.LITTLE_ENDIAN).putShort(8, 3.toShort)
            t
          }
        Image(s"$name.$ext", bytes, jpeg, None, "unclassifiable", None)
      } else {
        val gap = kinds(k) == 1
        val home = if (gap) -1 else { visited += 1; order((visited - 1) % order.size) }
        var img: Image = null
        while (img == null) {
          val cellIx = if (gap) rnd.nextInt(ps.size) else home
          val (cx, cy) = center(layout, cellIx % layout.grid, cellIx / layout.grid)
          val (x, y) =
            if (!gap) {
              val th = rnd.nextDouble() * 2 * math.Pi
              val r = rnd.nextDouble() * 0.25 * layout.cell
              (cx + r * math.cos(th), cy + r * math.sin(th))
            } else {
              // a cell corner, jittered: outside every inscribed ring
              (cx + 0.5 * layout.cell + (rnd.nextDouble() - 0.5) * 0.1 * layout.cell,
                cy + 0.5 * layout.cell + (rnd.nextDouble() - 0.5) * 0.1 * layout.cell)
            }
          val (bytes, (dx, dy)) =
            if (jpeg) jpegWithGps(bases(k % 4), x, y) else geoTiff(rnd, x, y)
          val owners = ps.filter(p => inside(p.ring, dx, dy))
          val outcome =
            if (owners.size == 1 && !gap) Some(("contains", owners.head))
            else if (owners.isEmpty && gap) nearest(ps, dx, dy).map(("nearest", _))
            else None
          outcome.foreach { case (m, p) =>
            img = Image(s"$name.$ext", bytes, jpeg, Some((dx, dy)), m, Some(p))
          }
        }
        img
      }
    }
  }

  /** Seeded Fisher-Yates. */
  private def shuffle[T](rnd: java.util.SplittableRandom, xs: Seq[T]): IndexedSeq[T] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse if i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  /** Model-output artifact names for a parcel, in the E3 grammar
    * `{CODIGO}_{SECCION}_{ESPECIE}_{APL}[_grilla|_rodal|_etiquetas].ext`. */
  def artifactNames(p: Parcel): Seq[String] =
    Seq(s"${p.indice}.png", s"${p.indice}_rodal.png",
      s"${p.indice}_grilla.png", s"${p.indice}_etiquetas.tif")

  // ---------------------------------------------------------------- files

  def write(dir: File, name: String, bytes: Array[Byte]): File = {
    dir.mkdirs()
    val f = new File(dir, name)
    Files.write(f.toPath, bytes)
    f
  }

  /** Parcels as JSON lines: predioId, ring [{x, y}], CODIGO, NOMBRE,
    * SECCION, TIPOUSO, APL (the `Pipelines.ingestClassify` dims). */
  def predioJson(ps: Seq[Parcel]): String = ps.map { p =>
    val ring = p.ring.map { case (x, y) => s"""{"x":$x,"y":$y}""" }.mkString("[", ",", "]")
    s"""{"predioId":${p.id},"ring":$ring,"CODIGO":"${p.codigo}","NOMBRE":"${p.nombre}",""" +
      s""""SECCION":"${p.seccion}","TIPOUSO":"${p.tipouso}","APL":"${p.apl}"}"""
  }.mkString("", "\n", "\n")
}
