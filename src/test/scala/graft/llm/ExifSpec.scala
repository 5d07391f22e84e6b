package graft.llm

import graft.SparkSpec

class ExifSpec extends SparkSpec {
  import spark.implicits._

  private def hx(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray

  test("fixture round-trip: flags follow the planted id arithmetic") {
    // id = 12: serial (12%4=0), gps (12%3=0), not garbage (12%5!=0)
    val i12 = Exif.info(Exif.jpegExifFixture(12)).get
    assert(i12 == Exif.Info(hasExif = true, hasGps = true,
      hasSerial = true, tagCount = 7))
    // id = 9: gps only → IFD0 3 + Exif 1 + GPS 2 = 6
    val i9 = Exif.info(Exif.jpegExifFixture(9)).get
    assert(i9 == Exif.Info(hasExif = true, hasGps = true,
      hasSerial = false, tagCount = 6))
    // id = 8: serial only → 2 + 2 = 4
    val i8 = Exif.info(Exif.jpegExifFixture(8)).get
    assert(i8 == Exif.Info(hasExif = true, hasGps = false,
      hasSerial = true, tagCount = 4))
    // id = 7: neither → 2 + 1 = 3
    val i7 = Exif.info(Exif.jpegExifFixture(7)).get
    assert(i7 == Exif.Info(hasExif = true, hasGps = false,
      hasSerial = false, tagCount = 3))
    // id = 10: garbage TIFF — the APP1 exists but nothing parses, and
    // the id%3/id%4 plants are moot
    val i10 = Exif.info(Exif.jpegExifFixture(10)).get
    assert(i10 == Exif.Info(hasExif = true, hasGps = false,
      hasSerial = false, tagCount = 0))
  }

  test("strip: byte-exact APP1/APP2 excision, passthrough, honest refusals") {
    val fx = Exif.jpegExifFixture(12)
    val stripped = Exif.strip(fx).get
    // stripped = the fixture minus exactly the APP1 segment: rebuild
    // the expectation from the fixture's own arithmetic
    val com = hx("FFFE") ++ hx(f"${10 + 12 % 8}%04X") ++
      Array.fill((8 + 12 % 8).toInt)(((12 * 11) % 256).toByte)
    val entropy = Array.fill((10 + 12 % 6).toInt)(((12 * 29 + 5) % 255).toByte)
    val expect = hx(Exif.FixturePrefixHex) ++ com ++
      hx(Exif.FixtureSosHex) ++ entropy ++ hx("FFD9")
    assert(java.util.Arrays.equals(stripped, expect),
      "stripped bytes must be the segment-exact APP1-free stream")
    // a stripped stream has no EXIF left and strip is idempotent
    // (returns the SAME array when nothing drops)
    assert(Exif.info(stripped).get ==
      Exif.Info(hasExif = false, hasGps = false, hasSerial = false, 0))
    assert(Exif.strip(stripped).get eq stripped)
    // APP2 (ICC) segments drop too
    val withApp2 = hx("FFD8") ++ hx("FFE2 0004 4142") ++ // APP2, 2-byte body
      stripped.drop(2)
    val app2Gone = Exif.strip(withApp2).get
    assert(java.util.Arrays.equals(app2Gone, stripped))
    // non-JPEG and truncated-segment payloads: refuse (None), never a
    // mangled rewrite
    assert(Exif.strip("not a jpeg".getBytes("UTF-8")).isEmpty)
    assert(Exif.strip(fx.take(6)).isEmpty) // APP0 length overruns
    assert(Exif.info("junk".getBytes("UTF-8")).isEmpty)
    // a length field pointing past the buffer is a refusal, not a read
    val lying = hx("FFD8 FFE1 FFFF 00")
    assert(Exif.strip(lying).isEmpty && Exif.info(lying).isEmpty)
  }

  test("TIFF walk: big-endian, truncated IFD, hostile cycle all bounded") {
    // big-endian variant: hand-build MM TIFF with one GPS pointer
    def seg(tiff: Array[Byte]): Array[Byte] = {
      val body = "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ tiff
      hx("FFD8") ++ hx("FFE1") ++
        Array((((body.length + 2) >> 8) & 0xff).toByte,
          ((body.length + 2) & 0xff).toByte) ++ body ++
        hx(Exif.FixtureSosHex) ++ hx("00 11 22 FFD9")
    }
    val beTiff = hx("4D4D 002A 00000008") ++ // MM, 42, IFD0@8
      hx("0001") ++ hx("8825 0004 00000001 0000001A") ++ // GPS ptr -> 26
      hx("00000000") ++ // no IFD1
      hx("0001") ++ hx("0001 0002 00000002 4E000000") ++ hx("00000000")
    val be = Exif.info(seg(beTiff)).get
    assert(be.hasGps && !be.hasSerial && be.tagCount == 2)
    // truncated mid-IFD: entry count says 5 but bytes end after 1
    val trunc = hx("4949 2A00 08000000") ++ hx("0500") ++
      hx("1201 0300 01000000 01000000")
    val t = Exif.info(seg(trunc)).get
    assert(t.hasExif && !t.hasGps && t.tagCount == 1)
    // hostile: Exif pointer loops back to IFD0 — visited set must end it
    val cycle = hx("4949 2A00 08000000") ++ hx("0100") ++
      hx("6987 0400 01000000 08000000") ++ hx("00000000")
    val c = Exif.info(seg(cycle)).get
    assert(c.hasExif && c.tagCount == 1)
  }

  test("DataFrame ops: flags + strip over a media frame, non-image and " +
      "null payloads untouched") {
    val media = Seq(
      (1L, "image", Exif.jpegExifFixture(12), null.asInstanceOf[String]),
      (2L, "image", Exif.jpegExifFixture(7), null.asInstanceOf[String]),
      (3L, "image", "nope".getBytes("UTF-8"), null.asInstanceOf[String]),
      (4L, "audio", Exif.jpegExifFixture(12), null.asInstanceOf[String]),
      (5L, "image", null.asInstanceOf[Array[Byte]],
        null.asInstanceOf[String])
    ).toDF("media_id", "media_type", "payload", "meta")
    val flags = Exif.exifFlags(media).orderBy("media_id").collect()
    assert(flags.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 5L))
    val f1 = flags(0)
    assert(f1.getBoolean(1) && f1.getBoolean(2) && f1.getBoolean(3) &&
      f1.getBoolean(4) && f1.getInt(5) == 7)
    assert(!flags(2).getBoolean(1) && flags(2).isNullAt(2))
    assert(!flags(3).getBoolean(1)) // null payload: parsed = false
    val out = Exif.stripExif(media).orderBy("media_id").collect()
    assert(out.map(r => (r.getLong(0), r.getBoolean(4))).toSeq ==
      Seq((1L, true), (2L, true), (3L, false), (4L, false), (5L, false)))
    // the audio row's payload — though it WOULD strip as a JPEG — is
    // untouched: media_type gates the rewrite
    assert(java.util.Arrays.equals(out(3).getAs[Array[Byte]](2),
      Exif.jpegExifFixture(12)))
    // schema: original columns + the stripped flag
    assert(out.head.schema.fieldNames.toSeq ==
      Seq("media_id", "media_type", "payload", "meta", "stripped"))
  }

  test("strip preserves a REAL ImageIO JPEG's decodability byte-for-byte") {
    // encode a genuine JPEG, splice an EXIF APP1 + ICC APP2 after SOI,
    // strip, and require the result to equal the original encode AND
    // still decode
    val img = new java.awt.image.BufferedImage(
      8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 8)
      img.setRGB(x, y, (x * 30 << 16) | (y * 40 << 8) | 128)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val clean = bos.toByteArray
    assert(clean(0) == 0xff.toByte && clean(1) == 0xd8.toByte)
    val exifSeg = {
      val fx = Exif.jpegExifFixture(12)
      // carve the APP1 out of the fixture (starts right after the
      // constant prefix)
      val start = Exif.FixturePrefixHex.length / 2
      val len = ((fx(start + 2) & 0xff) << 8) | (fx(start + 3) & 0xff)
      fx.slice(start, start + 2 + len)
    }
    val app2 = hx("FFE2 0006 49434300")
    val spliced = clean.take(2) ++ exifSeg ++ app2 ++ clean.drop(2)
    assert(Exif.info(spliced).get.hasGps)
    val stripped = Exif.strip(spliced).get
    assert(java.util.Arrays.equals(stripped, clean),
      "stripping the spliced segments must restore the original encode")
    val decoded = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(stripped))
    assert(decoded != null && decoded.getWidth == 8 && decoded.getHeight == 6)
  }
}
