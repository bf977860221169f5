package perfbench

import graft.sources.{Exif, GeoTiff}

/** The generator's own checks, no Spark needed:
  *  - the same seed gives identical bytes and ground truth, another seed
  *    different bytes;
  *  - every generated JPEG/GeoTIFF decodes through `Exif.gpsFromJpeg` /
  *    `GeoTiff.metaFromTiff` back to exactly the generator's coordinates,
  *    and files generated without a location decode to none;
  *  - the ground truth agrees with the geometry it was drawn from.
  * Prints one line per failed check and exits 1 if any failed. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    var failed = 0
    def check(ok: Boolean, msg: => String): Unit =
      if (!ok) { failed += 1; println(s"FAIL $msg") }

    val layout = Gen.Layout(6, 32)
    def gen(seed: Long) = {
      val ps = Gen.parcels(seed, layout)
      (ps, Gen.images(seed, "t", 200, ps, layout, Gen.Mix(0.7, 0.15), jpegShare = 0.5))
    }
    def fingerprint(imgs: Seq[Gen.Image]) =
      imgs.map(i => (i.name, i.bytes.toSeq, i.jpeg, i.lonLat, i.method, i.indice, i.ruta))

    val (ps1, a) = gen(11)
    val (ps2, b) = gen(11)
    val (_, c) = gen(12)
    check(fingerprint(a) == fingerprint(b), "same seed, different images or truth")
    check(ps1.map(p => (p.indice, p.ring.toSeq)) == ps2.map(p => (p.indice, p.ring.toSeq)),
      "same seed, different parcels")
    check(Gen.predioJson(ps1) == Gen.predioJson(ps2), "same seed, different parcel file")
    check(a.map(_.bytes.toSeq) != c.map(_.bytes.toSeq), "different seeds, same bytes")
    check(a.map(_.method).toSet == Set("contains", "nearest", "unclassifiable"),
      s"mix lacks an outcome: ${a.map(_.method).distinct}")
    check(a.exists(_.jpeg) && a.exists(!_.jpeg), "mix lacks a file kind")

    for (i <- a) {
      val gps = Exif.gpsFromJpeg(i.bytes)
      val tif = GeoTiff.metaFromTiff(i.bytes).map(_.centroid)
      i.lonLat match {
        case Some((lon, lat)) if i.jpeg =>
          check(gps.contains(Exif.Gps(lat, lon)), s"${i.name}: EXIF decodes to $gps, expected ($lat, $lon)")
        case Some((lon, lat)) =>
          check(tif.contains((lon, lat)), s"${i.name}: GeoTIFF decodes to $tif, expected ($lon, $lat)")
        case None =>
          check(gps.isEmpty && tif.isEmpty, s"${i.name}: no-location file decodes to $gps / $tif")
      }
      (i.method, i.lonLat, i.parcel) match {
        case ("contains", Some((x, y)), Some(p)) =>
          check(ps1.filter(q => Gen.inside(q.ring, x, y)) == Seq(p), s"${i.name}: not inside only ${p.id}")
        case ("nearest", Some((x, y)), Some(_)) =>
          check(!ps1.exists(q => Gen.inside(q.ring, x, y)), s"${i.name}: gap point inside a parcel")
        case ("unclassifiable", None, None) =>
        case other => check(false, s"${i.name}: inconsistent truth $other")
      }
    }
    check(a.flatMap(_.ruta).distinct.size == a.count(_.ruta.isDefined), "duplicate content keys")
    println(if (failed == 0) "selftest ok" else s"selftest: $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
