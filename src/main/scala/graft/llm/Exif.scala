package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.types._

/** EXIF / image-metadata hygiene — the image-side sibling of PII text
  * redaction: camera metadata travels inside JPEG APP1 segments and
  * routinely carries GPS coordinates (a location PII leak) and body /
  * lens serial numbers (a device-identity leak). A multimodal curation
  * pass therefore needs (a) per-image FLAGS so a pipeline can count,
  * filter, or quarantine geo-tagged crawl images, and (b) a byte-exact
  * REWRITE that removes the metadata segments while leaving every
  * pixel-bearing byte untouched.
  *
  * Everything here is self-contained byte arithmetic on the public
  * interchange formats — the JPEG segment layer (ITU-T T.81 §B: `FF
  * marker len body` with big-endian lengths that include the two
  * length bytes), and the TIFF 6.0 IFD structure EXIF embeds after the
  * `Exif\0\0` APP1 header (byte-order mark `II`/`MM`, magic 42, then
  * 12-byte tag entries) — same house style as
  * [[Multimodal.ImageHeaders]].
  *
  * Scale shape: both operators are narrow per-partition maps (one
  * payload in memory per task, no shuffle); pair with
  * [[Multimodal.repartitionBySize]] so a partition's blobs fit the
  * executor. Scratch is O(1) beyond the payload for the walk and one
  * output copy for the rewrite.
  */
object Exif {

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 8) | u8(b, i + 1)

  /** One parsed APP1-Exif summary: flags + the number of IFD entries
    * walked. `hasExif` is segment PRESENCE (an APP1 whose body starts
    * `Exif\0\0`), independent of whether the embedded TIFF parses —
    * a mangled EXIF block is still metadata a hygiene pass should see
    * (and [[strip]] removes it regardless). */
  final case class Info(hasExif: Boolean, hasGps: Boolean,
                        hasSerial: Boolean, tagCount: Int)

  /** GPS IFD pointer: its PRESENCE is the `has_gps` flag — a writer
    * only emits the pointer when it has GPS data to store, and flag
    * semantics must not depend on parsing the coordinate rationals. */
  private val TagGpsIfd = 0x8825
  /** Exif private IFD pointer (walked for the serial tags). */
  private val TagExifIfd = 0x8769
  /** Serial-number tags: EXIF 2.3 BodySerialNumber, TIFF/EP + DNG
    * CameraSerialNumber, EXIF 2.3 LensSerialNumber. */
  private val SerialTags = Set(0xa431, 0xc62f, 0xa435)

  /** Marker walk over a JPEG's segment layer, invoking `f(marker,
    * start, end)` for every `FF xx len body` segment (start = the
    * marker's FF byte, end = exclusive body end) until SOS/EOI, whose
    * position is returned (entropy-coded data follows SOS verbatim).
    * Returns None when the bytes are not a JPEG or a segment length
    * overruns the buffer — callers treat that as "leave the payload
    * alone". Fill bytes (extra FFs before a marker) and standalone
    * markers (01, D0-D7) belong to no segment. */
  private def walkSegments(b: Array[Byte])(
      f: (Int, Int, Int) => Unit): Option[Int] = {
    if (b.length < 2 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return None
    var i = 2
    while (i + 1 < b.length) {
      if (u8(b, i) != 0xff) return None // lost sync
      var j = i
      while (j < b.length && u8(b, j) == 0xff) j += 1 // fill bytes
      if (j >= b.length) return None
      val marker = u8(b, j)
      if (marker == 0xd9 || marker == 0xda) return Some(j - 1) // EOI/SOS
      else if ((marker >= 0xd0 && marker <= 0xd7) || marker == 0x01)
        i = j + 1 // standalone, no length field
      else {
        if (j + 2 >= b.length) return None
        val len = be16(b, j + 1)
        if (len < 2 || j + 1 + len > b.length) return None
        f(marker, j - 1, j + 1 + len)
        i = j + 1 + len
      }
    }
    None
  }

  /** Parse the EXIF flags out of a JPEG payload: None when the bytes
    * are not a structurally-sound JPEG; otherwise the [[Info]] summary
    * of the FIRST APP1 segment whose body opens `Exif\0\0` (the EXIF
    * spec allows exactly one). A JPEG with no such segment reports
    * all-false with zero tags. */
  def info(payload: Array[Byte]): Option[Info] = {
    var exifBody: Option[(Int, Int)] = None // (tiff base, end)
    val ok = walkSegments(payload) { (marker, start, end) =>
      // APP1 body begins after FF E1 len (4 bytes past start)
      if (marker == 0xe1 && exifBody.isEmpty && start + 10 <= end &&
          payload(start + 4) == 'E' && payload(start + 5) == 'x' &&
          payload(start + 6) == 'i' && payload(start + 7) == 'f' &&
          payload(start + 8) == 0 && payload(start + 9) == 0)
        exifBody = Some((start + 10, end))
    }
    // a walk that never reached SOS/EOI is not a sound JPEG — report
    // parsed=false even if an APP1 surfaced before the corruption,
    // matching [[strip]]'s refusal to touch such bytes
    if (ok.isEmpty) return None
    Some(exifBody match {
      case None => Info(hasExif = false, hasGps = false,
        hasSerial = false, tagCount = 0)
      case Some((base, end)) =>
        val (gps, serial, tags) = walkTiff(payload, base, end)
        Info(hasExif = true, hasGps = gps, hasSerial = serial,
          tagCount = tags)
    })
  }

  /** Bounded TIFF IFD walk over `[base, end)`: IFD0 → chained IFDs →
    * the Exif and GPS private IFDs, visited-set + cap guarded so
    * cyclic or hostile offsets terminate. Truncated or garbage TIFF
    * bytes yield (false, false, 0) — loud-enough via tagCount 0 next
    * to hasExif = true, and [[strip]] removes the segment either
    * way. */
  private def walkTiff(b: Array[Byte], base: Int, end: Int)
      : (Boolean, Boolean, Int) = {
    val len = end - base
    if (len < 8) return (false, false, 0)
    val le = b(base) == 'I' && b(base + 1) == 'I'
    val be = b(base) == 'M' && b(base + 1) == 'M'
    if (!le && !be) return (false, false, 0)
    def rd16(i: Int): Int =
      if (le) u8(b, i) | (u8(b, i + 1) << 8) else be16(b, i)
    def rd32(i: Int): Long =
      if (le) u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
        (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
      else (u8(b, i).toLong << 24) | (u8(b, i + 1).toLong << 16) |
        (u8(b, i + 2).toLong << 8) | u8(b, i + 3).toLong
    if (rd16(base + 2) != 42) return (false, false, 0)
    var gps = false; var serial = false; var tags = 0
    val visited = scala.collection.mutable.Set.empty[Long]
    // (offset relative to base) work queue; IFD0 seeds it
    var queue = List(rd32(base + 4))
    var walked = 0
    while (queue.nonEmpty && walked < 8) {
      val off = queue.head; queue = queue.tail
      if (off >= 8 && off + 2 <= len && visited.add(off)) {
        walked += 1
        val at = base + off.toInt
        val n = math.min(rd16(at), 512)
        var k = 0
        while (k < n && off + 2 + 12L * (k + 1) <= len) {
          val e = at + 2 + 12 * k
          val tag = rd16(e)
          tags += 1
          if (tag == TagGpsIfd) { gps = true; queue ::= rd32(e + 8) }
          else if (tag == TagExifIfd) queue ::= rd32(e + 8)
          else if (SerialTags.contains(tag)) serial = true
          k += 1
        }
        // chained IFD (IFD1, the thumbnail directory — can carry its
        // own tags)
        val nextAt = off + 2 + 12L * n
        if (k == n && nextAt + 4 <= len) {
          val next = rd32(base + nextAt.toInt)
          if (next != 0) queue ::= next
        }
      }
    }
    (gps, serial, tags)
  }

  /** Byte-exact metadata strip: the same JPEG minus every APP1
    * (EXIF / XMP) and APP2 (ICC / FlashPix) segment — all other bytes,
    * including the entropy-coded image data after SOS, copy verbatim,
    * so pixel decoding is unaffected. None when the payload is not a
    * structurally-sound JPEG (callers pass it through unchanged — a
    * hygiene pass must never corrupt what it cannot parse). Returns
    * the ORIGINAL array (not a copy) when there was nothing to drop. */
  def strip(payload: Array[Byte]): Option[Array[Byte]] = {
    var drops = List.empty[(Int, Int)]
    walkSegments(payload) { (marker, start, end) =>
      if (marker == 0xe1 || marker == 0xe2) drops ::= (start, end)
    } match {
      case None => None
      case Some(_) if drops.isEmpty => Some(payload)
      case Some(_) =>
        val keep = drops.foldLeft(payload.length)((n, d) => n - (d._2 - d._1))
        val out = new Array[Byte](keep)
        val sorted = drops.sortBy(_._1)
        var src = 0; var dst = 0
        sorted.foreach { case (s, e) =>
          System.arraycopy(payload, src, out, dst, s - src)
          dst += s - src; src = e
        }
        System.arraycopy(payload, src, out, dst, payload.length - src)
        Some(out)
    }
  }

  // --------------------------------------------------------------------
  // DataFrame operators
  // --------------------------------------------------------------------

  /** Flags contract: (media_id, parsed, has_exif, has_gps, has_serial,
    * exif_tags) — `parsed = false` (with NULL flags) for payloads that
    * are not structurally-sound JPEGs; PNG/GIF/WebP never carry EXIF
    * APP segments so a non-JPEG image is honestly "nothing to say",
    * not "clean". */
  val exifFlagsSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("parsed", BooleanType, nullable = false),
    StructField("has_exif", BooleanType, nullable = true),
    StructField("has_gps", BooleanType, nullable = true),
    StructField("has_serial", BooleanType, nullable = true),
    StructField("exif_tags", IntegerType, nullable = true)))

  /** Per-image EXIF hygiene flags over a [[Multimodal.mediaSchema]]
    * frame — one narrow per-partition map (no shuffle), image rows
    * only. */
  def exifFlags(media: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(exifFlagsSchema)
    val idIdx = media.schema.fieldIndex("media_id")
    val typeIdx = media.schema.fieldIndex("media_type")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.filter(r => r.getString(typeIdx) == "image").map { r =>
        val payload =
          if (r.isNullAt(payloadIdx)) Array.empty[Byte]
          else r.getAs[Array[Byte]](payloadIdx)
        info(payload) match {
          case Some(i) => Row(r.getLong(idIdx), true, i.hasExif,
            i.hasGps, i.hasSerial, i.tagCount)
          case None => Row(r.getLong(idIdx), false, null, null, null, null)
        }
      }
    }(enc)
  }

  /** Metadata-stripped rewrite of a media frame: every row survives
    * with its schema intact plus a `stripped` flag; image rows whose
    * payload is a parseable JPEG get the APP1/APP2-free bytes (flag
    * true iff bytes actually changed), everything else — non-image
    * rows, non-JPEG images, corrupt payloads — passes through
    * UNTOUCHED with `stripped = false`. */
  def stripExif(media: DataFrame): DataFrame = {
    val outSchema = media.schema.add(
      StructField("stripped", BooleanType, nullable = false))
    val enc = ExpressionEncoder(outSchema)
    val typeIdx = media.schema.fieldIndex("media_type")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val vals = r.toSeq
        val isImage = !r.isNullAt(typeIdx) &&
          r.getString(typeIdx) == "image"
        if (!isImage || r.isNullAt(payloadIdx))
          Row.fromSeq(vals :+ false)
        else {
          val payload = r.getAs[Array[Byte]](payloadIdx)
          strip(payload) match {
            case Some(out) if out.length != payload.length =>
              Row.fromSeq(vals.updated(payloadIdx, out) :+ true)
            case _ => Row.fromSeq(vals :+ false)
          }
        }
      }
    }(enc)
  }

  // --------------------------------------------------------------------
  // Deterministic fixture (gate + unit use): a structurally-real JPEG
  // stream whose every byte derives from the id, with a planted EXIF
  // APP1 — GPS pointer on id % 3 == 0, body serial on id % 4 == 0,
  // garbage (unparseable) TIFF body on id % 5 == 0 — so the oracle
  // can replay flags AND the exact stripped bytes from id arithmetic
  // alone. The stream is segment-layer-real (ImageHeaders-walkable),
  // not pixel-decodable: EXIF hygiene is byte arithmetic, decode
  // correctness is q_phash_dedup's job.
  // --------------------------------------------------------------------

  private def hexBytes(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** SOI + JFIF APP0, constant. */
  val FixturePrefixHex =
    "FFD8" + "FFE00010" + "4A464946000102000001000100" + "00"
  /** Minimal SOS header, constant (entropy bytes follow verbatim). */
  val FixtureSosHex = "FFDA" + "0008" + "010000003F00"

  /** Deterministic JPEG-with-EXIF fixture — see the block comment for
    * the planted-id arithmetic the oracle replays. */
  def jpegExifFixture(id: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(hexBytes(FixturePrefixHex))
    // APP1 Exif segment
    val tiff = new java.io.ByteArrayOutputStream()
    if (id % 5 == 0) {
      // garbage TIFF body: 8 bytes of (id*13)%256 — no II/MM mark
      val junk = ((id * 13) % 256).toInt
      (0 until 8).foreach(_ => tiff.write(junk))
    } else {
      // little-endian TIFF, IFD0 at offset 8
      def w16(v: Int): Unit = { tiff.write(v & 0xff); tiff.write((v >> 8) & 0xff) }
      def w32(v: Long): Unit = {
        tiff.write((v & 0xff).toInt); tiff.write(((v >> 8) & 0xff).toInt)
        tiff.write(((v >> 16) & 0xff).toInt); tiff.write(((v >> 24) & 0xff).toInt)
      }
      def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
        w16(tag); w16(typ); w32(count); w32(value)
      }
      val hasGps = id % 3 == 0
      val hasSerial = id % 4 == 0
      tiff.write('I'); tiff.write('I'); w16(42); w32(8)
      // IFD0: orientation + Exif pointer (+ GPS pointer)
      val n0 = if (hasGps) 3 else 2
      val ifd0End = 8L + 2 + 12 * n0 + 4
      val exifIfdOff = ifd0End
      val nE = if (hasSerial) 2 else 1
      val gpsIfdOff = exifIfdOff + 2 + 12 * nE + 4
      w16(n0)
      entry(0x0112, 3, 1, (id % 8) + 1) // orientation, SHORT
      entry(TagExifIfd, 4, 1, exifIfdOff) // Exif IFD pointer, LONG
      if (hasGps) entry(TagGpsIfd, 4, 1, gpsIfdOff)
      w32(0) // no IFD1
      // Exif IFD: ExifVersion (+ BodySerialNumber, 4 ASCII chars inline)
      w16(nE)
      entry(0x9000, 7, 4, 0x30333230L) // "0230" little-endian inline
      if (hasSerial) {
        val d = (id % 1000).toInt
        val ser = Array('S'.toByte, ('0' + d / 100).toByte,
          ('0' + (d / 10) % 10).toByte, ('0' + d % 10).toByte)
        w16(0xa431); w16(2); w32(4)
        ser.foreach(c => tiff.write(c))
      }
      w32(0)
      // GPS IFD: latitude/longitude refs, inline ASCII
      if (hasGps) {
        w16(2)
        entry(0x0001, 2, 2, 'N'.toLong) // "N\0\0\0" inline
        entry(0x0003, 2, 2, 'E'.toLong)
        w32(0)
      }
    }
    val tb = tiff.toByteArray
    val app1Len = 2 + 6 + tb.length
    bos.write(0xff); bos.write(0xe1)
    bos.write((app1Len >> 8) & 0xff); bos.write(app1Len & 0xff)
    bos.write("Exif".getBytes("US-ASCII")); bos.write(0); bos.write(0)
    bos.write(tb)
    // COM segment: L = 8 + id%8 bytes of (id*11)%256
    val comLen = (8 + id % 8).toInt
    val comByte = ((id * 11) % 256).toInt
    bos.write(0xff); bos.write(0xfe)
    bos.write(((comLen + 2) >> 8) & 0xff); bos.write((comLen + 2) & 0xff)
    (0 until comLen).foreach(_ => bos.write(comByte))
    // SOS + entropy (byte never 0xFF by the %255) + EOI
    bos.write(hexBytes(FixtureSosHex))
    val eLen = (10 + id % 6).toInt
    val eByte = ((id * 29 + 5) % 255).toInt
    (0 until eLen).foreach(_ => bos.write(eByte))
    bos.write(0xff); bos.write(0xd9)
    bos.toByteArray
  }
}
