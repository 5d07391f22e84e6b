package graft.sources

import java.nio.charset.StandardCharsets
import java.util.zip.{Deflater, Inflater}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftError

/** PDF text extraction (ISO 32000-1) — the third big crawl-side
  * container next to WARC and WebDataset: a meaningful share of any
  * web-scale text corpus arrives as PDF, and a pipeline that cannot
  * open it leaves that share on the floor. Pure-JDK implementation:
  * FlateDecode is zlib (`java.util.zip.Inflater`), everything else is
  * byte/token walking over public structure.
  *
  * Read semantics (`readText`: one row per PAGE, in PAGE-TREE order):
  *  - objects are indexed by a sequential `N G obj … endobj` scan (no
  *    xref dependence — real-world PDFs ship broken xrefs; the scan
  *    also covers PDF 1.5 xref-stream files whose classic trailer is
  *    absent), then every `/Type /ObjStm` compressed object stream
  *    (ISO 32000-1 §7.5.7 — where most post-2005 writers pack their
  *    page/catalog dicts) is inflated and its members indexed from the
  *    `objnum offset` header pairs; on an object-number collision the
  *    TOP-LEVEL copy wins, and among ObjStm containers the
  *    HIGHEST-numbered container wins — a documented HEURISTIC for
  *    xref-ignoring reads: incremental updates append their new
  *    top-level objects AND their new ObjStm containers after the
  *    originals, and appended objects take higher numbers in every
  *    real writer, so "top-level first, then highest container" picks
  *    the newest version without trusting the (often broken) xref.
  *    Damaged ObjStm framing (missing /N or /First, short header,
  *    offsets past the data) is LOUD with the object number;
  *  - page ORDER comes from walking `/Root → /Pages → /Kids`
  *    recursively (ISO 32000 §7.7.3); when no catalog resolves, the
  *    documented fallback is `/Type /Page` objects in object-number
  *    order;
  *  - each page's `/Contents` (single ref or array) is decoded
  *    through its `/Filter` pipeline — `/FlateDecode`,
  *    `/ASCIIHexDecode`, `/ASCII85Decode`, `/LZWDecode`, raw, or an
  *    array chain of them (§7.4.1), then through any `/Predictor`
  *    post-processing (§7.4.4.4: PNG None/Sub/Up/Average/Paeth row
  *    unfiltering and TIFF horizontal differencing — pdftex-family
  *    writers emit predictor-12 ObjStm/xref streams routinely); the
  *    image codecs are LOUD errors naming the filter (silently
  *    skipping or passing them through would silently drop or garble
  *    text) — and scanned for text operators: `Tj`, `'`, `"`, `TJ`
  *    (strings shown, kerning numbers ignored), with a newline emitted
  *    between shows when a line-move (`T*`, `'`, `Td`/`TD` with a
  *    vertical component) intervened;
  *  - literal strings decode PDF escapes (`\\ \( \) \n \r \t \b \f`,
  *    octal, line continuations, balanced nested parens); hex strings
  *    decode per §7.3.4.3; a UTF-16BE BOM (`FE FF`) switches the
  *    string to UTF-16 decoding, otherwise bytes read as Latin-1
  *    (standard-font text). A simple font's `/Encoding` decodes for
  *    real (Annex D): a `/WinAnsiEncoding`/`/MacRomanEncoding` base
  *    name maps through the built-in byte tables, and a
  *    `/Differences` array remaps codes through an AGL-subset
  *    glyph-name→Unicode table (plus `uniXXXX` names); an UNKNOWN
  *    base-encoding name or an unmapped glyph name flips the page's
  *    `decode_confident` to false (the unmapped code shows as U+FFFD)
  *    — simple-font mojibake never ships silently. `/Subtype
  *    /Type0` (CID/composite) fonts — how virtually all CJK and most
  *    embedded-subset text ships — decode THROUGH their `/ToUnicode`
  *    CMap (ISO 32000-1 §9.10.3: `bfchar`/`bfrange` entries, both the
  *    continuous and array range forms, code width from the
  *    codespacerange): the current font is tracked across `Tf`
  *    operators and each show string's raw bytes group into CID codes
  *    and map to Unicode (unmapped codes → U+FFFD, visible and
  *    honest). A Type0 font WITHOUT a usable ToUnicode flips the
  *    page's `decode_confident` column to false — its shows are
  *    documented mojibake, and the flag lets a pipeline quarantine the
  *    page instead of silently training on garbage. A page without
  *    its own /Resources inherits them from the nearest /Pages
  *    ancestor (§7.7.3.4);
  *  - inline images (`BI … EI`) are skipped; structural damage (no
  *    `%PDF` header, unbalanced dict, truncated stream) is loud with
  *    the file name; an ENCRYPTED file (§7.6 `/Encrypt` in either
  *    trailer spelling) is rejected up front with a typed error
  *    naming encryption — its streams are ciphertext, and letting
  *    them reach the inflater produced a misleading "stream corrupt"
  *    that blamed the file.
  *
  * Write semantics (`write`: one `<name>.pdf` per row; the fixture and
  * export path): minimal spec-compliant files — catalog, page tree,
  * one FlateDecoded content stream per page (`pageChars` splits long
  * text), Helvetica Type1 font, correct xref offsets. ASCII/Latin-1
  * text writes as an escaped literal string; anything wider writes as
  * a BOM'd UTF-16BE hex string, so the round trip is exact for
  * arbitrary Unicode.
  *
  * Scale design: PDFs are many-SMALL by nature, so unlike WARC's
  * one-task-per-~GiB-shard model, read tasks own BATCHES of files
  * (per-task overhead would otherwise be paid once per document), and
  * the prescribed at-scale shape ships PDFs INSIDE tar/WebDataset
  * shards ([[pagesFrom]] over the content bytes — the 30× ramp
  * measured loose file-per-document writes at 65 s where the shard
  * composition takes 1.5 s). Memory per task is one file's bytes
  * (PDFs random-access internally, so the whole file loads — bounded
  * by a loud 256 MiB single-file cap, far above any sane document). */
object PdfSource {

  final case class PdfPage(file: String, page: Int, text: String,
                           decode_confident: Boolean)

  private val MaxFileBytes = 256L * 1024 * 1024

  // ----------------------------- read ---------------------------------

  /** One row per page under `path` (a `.pdf` file or a directory of
    * them), in page-tree order. */
  def readText(spark: SparkSession, path: String): DataFrame = {
    val fs = FileSystem.get(java.net.URI.create(path), new Configuration())
    val p = new Path(path)
    val files: Seq[String] =
      if (fs.getFileStatus(p).isFile) Seq(path)
      else fs.listStatus(p).toSeq.filter(_.isFile)
        .filterNot(_.getPath.getName.startsWith("_tmp-"))
        .map(_.getPath.toString).filter(_.endsWith(".pdf")).sorted
    if (files.isEmpty)
      throw GraftError.Configuration(s"no .pdf files under $path")
    // unlike WARC (~1 GiB shards, one task per file), PDFs are
    // many-SMALL: one partition per file would pay per-task overhead
    // 5000× over a 5000-document corpus — tasks own batches instead
    val parts = math.max(1,
      math.min(files.size, spark.sparkContext.defaultParallelism * 4))
    val rdd = spark.sparkContext.parallelize(files, parts)
      .flatMap { f =>
        val ffs = FileSystem.get(java.net.URI.create(f), new Configuration())
        val st = ffs.getFileStatus(new Path(f))
        if (st.getLen > MaxFileBytes)
          throw GraftError.DataTransfer(
            s"$f: ${st.getLen} bytes exceeds the 256 MiB single-PDF cap")
        val in = ffs.open(new Path(f))
        val bytes = new Array[Byte](st.getLen.toInt)
        try in.readFully(bytes) finally in.close()
        extractPages(bytes, f).map { case (n, t, c) => PdfPage(f, n, t, c) }
      }
    spark.createDataset(rdd)(Encoders.product[PdfPage]).toDF()
  }

  /** Pages from an in-plan BINARY column — the at-scale shape: a
    * 100 TB PDF corpus ships inside tar/WebDataset shards (loose
    * file-per-document writes are fs-op bound at ~ms each), so the
    * composition is `TarSource.read(shards)` → `pagesFrom` on the
    * content bytes. Per-partition imperative flatMap (a PDF parse is
    * genuinely procedural); one file's bytes in memory at a time. */
  def pagesFrom(df: DataFrame, fileCol: String,
                contentCol: String): DataFrame = {
    val slim = df.select(col(fileCol).cast("string").as("f"),
      col(contentCol).cast("binary").as("c"))
    slim.flatMap { r =>
      extractPages(r.getAs[Array[Byte]]("c"), r.getString(0))
        .map { case (n, t, c) => PdfPage(r.getString(0), n, t, c) }
    }(Encoders.product[PdfPage]).toDF()
  }

  /** One indexed object: its dict region (Latin-1 view) and, when a
    * stream follows, the raw stream payload. */
  private final case class Obj(dict: String, stream: Array[Byte])

  /** Parses one file's pages. Package-private so units can drive the
    * exact production path on hand-built bytes. */
  private[sources] def extractPages(bytes: Array[Byte],
      file: String): Seq[(Int, String, Boolean)] = {
    // Latin-1 view: 1:1 byte↔char, so structure offsets in the view
    // are byte offsets in the array
    val s = new String(bytes, StandardCharsets.ISO_8859_1)
    if (!s.startsWith("%PDF"))
      throw GraftError.Configuration(
        s"$file: missing %PDF header — not a PDF")
    val objs = indexObjects(s, bytes, file)
    val pageRefs = pageOrder(s, objs, file)
    pageRefs.zipWithIndex.map { case (num, i) =>
      val dict = objs(num).dict
      val contentRefs = dictRefs(dict, "/Contents")
      val fonts = pageFonts(dict, objs, file)
      val text = new StringBuilder
      contentRefs.foreach { cref =>
        val o = objs.getOrElse(cref, throw GraftError.DataTransfer(
          s"$file: page object $num references missing content $cref"))
        if (o.stream == null)
          throw GraftError.DataTransfer(
            s"$file: /Contents $cref is not a stream object")
        extractText(decodeStream(o, file, cref, objs), text, fonts)
      }
      // confident unless a Type0 font has NO usable ToUnicode, or a
      // simple font's /Encoding could not be fully mapped: both mean
      // some shows would be mojibake, and the flag marks the page
      val confident = fonts.values.forall(f =>
        (if (f.type0) f.toUnicode.isDefined else f.encConfident))
      (i + 1, text.toString, confident)
    }
  }

  /** One page-reachable font: composite (Type0)? and its parsed
    * ToUnicode map (code → unicode string) + code width in bytes; for
    * simple fonts, the 256-entry byte→Unicode table a parsed
    * `/Encoding` produced (None = no /Encoding, the Latin-1/BOM status
    * quo) and whether that parse was CONFIDENT (known base encoding,
    * every /Differences glyph name mapped). */
  private final case class FontInfo(type0: Boolean,
                                    toUnicode: Option[Map[Int, String]],
                                    codeBytes: Int,
                                    simpleEnc: Option[Array[String]] = None,
                                    encConfident: Boolean = true)

  /** Resolves the page's `/Resources /Font` entries to name →
    * [[FontInfo]]: resources and the font container resolve whether
    * inline or indirect; each named entry's font object dict decides
    * `/Subtype /Type0`, and a Type0's `/ToUnicode` stream parses
    * through [[parseToUnicode]] (a dangling or non-stream /ToUnicode
    * counts as absent — the page flags unconfident rather than
    * crashing on a spec-violating font). Inline font dicts inside the
    * container (rare) are treated as simple fonts. A page WITHOUT its
    * own /Resources inherits them from the nearest /Pages ancestor
    * (§7.7.3.4 inheritable attributes — common in real files), walked
    * via /Parent with a 64-deep cycle guard. */
  private def pageFonts(pageDict: String, objs: Map[Int, Obj],
                        file: String): Map[String, FontInfo] = {
    // the page's own /Resources, else the nearest ancestor's
    def resourcesOf(dict: String, depth: Int): Seq[String] = {
      val refs = dictRefs(dict, "/Resources")
      val own =
        if (refs.nonEmpty) refs.flatMap(objs.get).map(_.dict)
        else inlineDict(dict, "/Resources", file).toSeq
      if (own.nonEmpty || depth > 64) own
      else dictRefs(dict, "/Parent").headOption.flatMap(objs.get)
        .map(p => resourcesOf(p.dict, depth + 1)).getOrElse(Nil)
    }
    val resTexts: Seq[String] = resourcesOf(pageDict, 0)
    val fontTexts: Seq[String] = resTexts.flatMap { rt =>
      val refs = dictRefs(rt, "/Font")
      if (refs.nonEmpty) refs.flatMap(objs.get).map(_.dict)
      else inlineDict(rt, "/Font", file).toSeq
    }
    val entry = """/([^\s/<>\[\]()]+)\s+(\d+)\s+\d+\s+R""".r
    fontTexts.flatMap { ft =>
      entry.findAllMatchIn(ft).map { m =>
        val name = m.group(1)
        val fd = objs.get(m.group(2).toInt)
        val dictTxt = fd.map(_.dict).getOrElse("")
        val type0 = hasName(dictTxt, "/Subtype", "/Type0")
        val toUni =
          if (!type0) None
          else dictRefs(dictTxt, "/ToUnicode").headOption
            .flatMap(objs.get).filter(_.stream != null)
            .map(o => parseToUnicode(new String(
              decodeStream(o, file, 0, objs), StandardCharsets.ISO_8859_1)))
        val (enc, encOk) =
          if (type0) (None, true) else simpleEncoding(dictTxt, objs, file)
        name -> FontInfo(type0, toUni.map(_._1),
          toUni.map(_._2).getOrElse(2), enc, encOk)
      }
    }.toMap
  }

  // --------------------- simple-font /Encoding --------------------------

  /** WinAnsiEncoding (ISO 32000-1 Annex D.2) as a 256-entry byte→text
    * table: Latin-1 everywhere except the 0x80–0x9F band, which carries
    * the CP1252 typography set. The five CP1252-undefined slots stay
    * Latin-1 C1 controls (no conforming writer emits them). */
  private lazy val winAnsiTable: Array[String] = {
    val t = Array.tabulate(256)(i => i.toChar.toString)
    val hi = Map(
      0x80 -> "€", 0x82 -> "‚", 0x83 -> "ƒ",
      0x84 -> "„", 0x85 -> "…", 0x86 -> "†",
      0x87 -> "‡", 0x88 -> "ˆ", 0x89 -> "‰",
      0x8A -> "Š", 0x8B -> "‹", 0x8C -> "Œ",
      0x8E -> "Ž", 0x91 -> "‘", 0x92 -> "’",
      0x93 -> "“", 0x94 -> "”", 0x95 -> "•",
      0x96 -> "–", 0x97 -> "—", 0x98 -> "˜",
      0x99 -> "™", 0x9A -> "š", 0x9B -> "›",
      0x9C -> "œ", 0x9E -> "ž", 0x9F -> "Ÿ")
    hi.foreach { case (c, u) => t(c) = u }
    t
  }

  /** MacRomanEncoding (Annex D.2) — ASCII low half, the classic Mac OS
    * Roman high half (PDF's table predates the 8.5 Euro swap: 0xDB is
    * /currency). One 128-char string keeps the table reviewable. */
  private lazy val macRomanTable: Array[String] = {
    val high =
      "ÄÅÇÉÑÖÜáàâäãåçéèêëíìîïñóòôöõúùûü†°¢£§•¶ß®©™´¨≠ÆØ" +
        "∞±≤≥¥µ∂∑∏π∫ªºΩæø¿¡¬√ƒ≈∆«»… ÀÃÕŒœ–—“”‘’÷◊ÿŸ⁄¤‹›ﬁﬂ" +
        "‡·‚„‰ÂÊÁËÈÍÎÏÌÓÔÒÚÛÙıˆ˜¯˘˙˚¸˝˛ˇ"
    require(high.length == 128, s"MacRoman high half: ${high.length}")
    Array.tabulate(256)(i =>
      if (i < 0x80) i.toChar.toString else high.charAt(i - 0x80).toString)
  }

  /** Glyph-name→Unicode for the Latin set every PDF `/Differences`
    * array draws from — the Adobe Glyph List subset covering ASCII,
    * Latin-1 supplement, Latin Extended-A regulars, and the Annex D
    * typography names; `uniXXXX` names resolve algorithmically. */
  private lazy val glyphToUnicode: Map[String, String] = {
    val m = Map.newBuilder[String, String]
    (('a' to 'z') ++ ('A' to 'Z')).foreach(c => m += c.toString -> c.toString)
    Seq("zero", "one", "two", "three", "four", "five", "six", "seven",
      "eight", "nine").zipWithIndex.foreach { case (n, i) =>
      m += n -> i.toString }
    m ++= Map(
      "space" -> " ", "exclam" -> "!", "quotedbl" -> "\"",
      "numbersign" -> "#", "dollar" -> "$", "percent" -> "%",
      "ampersand" -> "&", "quotesingle" -> "'", "parenleft" -> "(",
      "parenright" -> ")", "asterisk" -> "*", "plus" -> "+",
      "comma" -> ",", "hyphen" -> "-", "period" -> ".", "slash" -> "/",
      "colon" -> ":", "semicolon" -> ";", "less" -> "<", "equal" -> "=",
      "greater" -> ">", "question" -> "?", "at" -> "@",
      "bracketleft" -> "[", "backslash" -> "\\", "bracketright" -> "]",
      "asciicircum" -> "^", "underscore" -> "_", "grave" -> "`",
      "braceleft" -> "{", "bar" -> "|", "braceright" -> "}",
      "asciitilde" -> "~",
      "exclamdown" -> "¡", "cent" -> "¢", "sterling" -> "£",
      "currency" -> "¤", "yen" -> "¥", "brokenbar" -> "¦",
      "section" -> "§", "dieresis" -> "¨", "copyright" -> "©",
      "ordfeminine" -> "ª", "guillemotleft" -> "«", "logicalnot" -> "¬",
      "registered" -> "®", "macron" -> "¯", "degree" -> "°",
      "plusminus" -> "±", "acute" -> "´", "mu" -> "µ", "paragraph" -> "¶",
      "periodcentered" -> "·", "cedilla" -> "¸", "ordmasculine" -> "º",
      "guillemotright" -> "»", "onequarter" -> "¼", "onehalf" -> "½",
      "threequarters" -> "¾", "questiondown" -> "¿", "multiply" -> "×",
      "divide" -> "÷",
      "Agrave" -> "À", "Aacute" -> "Á", "Acircumflex" -> "Â",
      "Atilde" -> "Ã", "Adieresis" -> "Ä", "Aring" -> "Å", "AE" -> "Æ",
      "Ccedilla" -> "Ç", "Egrave" -> "È", "Eacute" -> "É",
      "Ecircumflex" -> "Ê", "Edieresis" -> "Ë", "Igrave" -> "Ì",
      "Iacute" -> "Í", "Icircumflex" -> "Î", "Idieresis" -> "Ï",
      "Eth" -> "Ð", "Ntilde" -> "Ñ", "Ograve" -> "Ò", "Oacute" -> "Ó",
      "Ocircumflex" -> "Ô", "Otilde" -> "Õ", "Odieresis" -> "Ö",
      "Oslash" -> "Ø", "Ugrave" -> "Ù", "Uacute" -> "Ú",
      "Ucircumflex" -> "Û", "Udieresis" -> "Ü", "Yacute" -> "Ý",
      "Thorn" -> "Þ", "germandbls" -> "ß",
      "agrave" -> "à", "aacute" -> "á", "acircumflex" -> "â",
      "atilde" -> "ã", "adieresis" -> "ä", "aring" -> "å", "ae" -> "æ",
      "ccedilla" -> "ç", "egrave" -> "è", "eacute" -> "é",
      "ecircumflex" -> "ê", "edieresis" -> "ë", "igrave" -> "ì",
      "iacute" -> "í", "icircumflex" -> "î", "idieresis" -> "ï",
      "eth" -> "ð", "ntilde" -> "ñ", "ograve" -> "ò", "oacute" -> "ó",
      "ocircumflex" -> "ô", "otilde" -> "õ", "odieresis" -> "ö",
      "oslash" -> "ø", "ugrave" -> "ù", "uacute" -> "ú",
      "ucircumflex" -> "û", "udieresis" -> "ü", "yacute" -> "ý",
      "thorn" -> "þ", "ydieresis" -> "ÿ",
      "OE" -> "Œ", "oe" -> "œ", "Scaron" -> "Š", "scaron" -> "š",
      "Zcaron" -> "Ž", "zcaron" -> "ž", "Ydieresis" -> "Ÿ",
      "florin" -> "ƒ", "circumflex" -> "ˆ", "tilde" -> "˜",
      "caron" -> "ˇ", "breve" -> "˘", "dotaccent" -> "˙", "ring" -> "˚",
      "ogonek" -> "˛", "hungarumlaut" -> "˝", "endash" -> "–",
      "emdash" -> "—", "quoteleft" -> "‘", "quoteright" -> "’",
      "quotesinglbase" -> "‚", "quotedblleft" -> "“",
      "quotedblright" -> "”", "quotedblbase" -> "„", "dagger" -> "†",
      "daggerdbl" -> "‡", "bullet" -> "•", "ellipsis" -> "…",
      "perthousand" -> "‰", "guilsinglleft" -> "‹",
      "guilsinglright" -> "›", "fraction" -> "⁄", "Euro" -> "€",
      "trademark" -> "™", "minus" -> "−", "fi" -> "ﬁ", "fl" -> "ﬂ",
      "dotlessi" -> "ı", "Lslash" -> "Ł", "lslash" -> "ł",
      "nbspace" -> " ")
    m.result()
  }

  private def glyphUnicode(name: String): Option[String] =
    glyphToUnicode.get(name).orElse {
      // AGL algorithmic form: uniXXXX (one BMP codepoint)
      if (name.length == 7 && name.startsWith("uni") &&
        name.drop(3).forall(c => Character.digit(c, 16) >= 0))
        Some(Integer.parseInt(name.substring(3), 16).toChar.toString)
      else None
    }

  /** Parses a simple font's `/Encoding` into (byte table, confident):
    * a bare base-encoding NAME (`/WinAnsiEncoding`/`/MacRomanEncoding`)
    * selects its table; a dict (inline or indirect) starts from its
    * `/BaseEncoding` (Latin-1 when absent — the StandardEncoding
    * approximation this reader always used) and patches the
    * `/Differences` array (integers set the next code, names assign
    * consecutive codes, Annex D.1). UNKNOWN base names decode Latin-1
    * with confident=false; an unmapped glyph name slots U+FFFD with
    * confident=false — the caller's page flag quarantines both instead
    * of shipping silent mojibake. No `/Encoding` → (None, true). */
  private def simpleEncoding(fontDict: String, objs: Map[Int, Obj],
      file: String): (Option[Array[String]], Boolean) = {
    def baseTable(n: String): Option[(Array[String], Boolean)] = n match {
      case "WinAnsiEncoding" => Some((winAnsiTable, true))
      case "MacRomanEncoding" => Some((macRomanTable, true))
      // StandardEncoding/PDFDocEncoding ≈ Latin-1 over the Latin set
      // this reader targets — documented approximation, stays confident
      case "StandardEncoding" | "PDFDocEncoding" =>
        Some((Array.tabulate(256)(_.toChar.toString), true))
      case _ => Some((Array.tabulate(256)(_.toChar.toString), false))
    }
    val encRef = dictRefs(fontDict, "/Encoding").headOption
    // a DANGLING indirect /Encoding (the ref exists, the object
    // doesn't) is declared-but-unreadable: decode Latin-1 UNCONFIDENT,
    // matching the Type0 missing-ToUnicode policy — falling through to
    // the no-/Encoding branch would ship confident mojibake
    if (encRef.isDefined && !objs.contains(encRef.get))
      return (Some(Array.tabulate(256)(_.toChar.toString)), false)
    val encVal: Option[String] =
      encRef.flatMap(objs.get)
        .map(_.dict).orElse(inlineDict(fontDict, "/Encoding", file))
    encVal match {
      case Some(ed) if ed.startsWith("<<") =>
        val baseName = """/BaseEncoding\s*/([A-Za-z0-9.\-]+)""".r
          .findFirstMatchIn(ed).map(_.group(1))
        val (table0, baseOk) = baseName.flatMap(baseTable)
          .getOrElse((Array.tabulate(256)(_.toChar.toString), true))
        val table = table0.clone()
        var ok = baseOk
        """/Differences\s*\[([^\]]*)\]""".r.findFirstMatchIn(ed)
          .foreach { m =>
            var code = -1
            """(\d+)|/([^\s/<>\[\]()]+)""".r.findAllMatchIn(m.group(1))
              .foreach { t =>
                if (t.group(1) != null) {
                  // codes are bytes; a damaged/hostile integer must
                  // flag, not crash the task with a raw JDK error
                  code = try {
                    val v = t.group(1).toLong
                    if (v > 255) { ok = false; -1 } else v.toInt
                  } catch {
                    case _: NumberFormatException => ok = false; -1
                  }
                } else if (code >= 0 && code < 256) {
                  glyphUnicode(t.group(2)) match {
                    case Some(u) => table(code) = u
                    case None => table(code) = "�"; ok = false
                  }
                  code += 1
                } else {
                  // a glyph name with no valid slot — consecutive
                  // assignment ran past code 255, or it follows a bad
                  // integer (code -1): the glyph is UNMAPPED, which is
                  // exactly the condition encConfident exists to
                  // surface — never skip it silently
                  ok = false
                }
              }
          }
        (Some(table), ok)
      case Some(ed) =>
        // an indirect /Encoding resolved to a bare NAME object
        // ('9 0 obj /WinAnsiEncoding endobj') — same as the inline
        // name; anything else declared-but-unreadable decodes Latin-1
        // UNCONFIDENT (never silent mojibake)
        """^/([A-Za-z0-9.\-]+)""".r.findFirstMatchIn(ed.trim)
          .map(_.group(1)) match {
          case Some(n) =>
            val (t, ok) = baseTable(n).get
            (Some(t), ok)
          case None =>
            (Some(Array.tabulate(256)(_.toChar.toString)), false)
        }
      case None =>
        """/Encoding\s*/([A-Za-z0-9.\-]+)""".r.findFirstMatchIn(fontDict)
          .map(_.group(1)) match {
          case Some(n) =>
            val (t, ok) = baseTable(n).get
            (Some(t), ok)
          case None => (None, true)
        }
    }
  }

  /** Parses a ToUnicode CMap (ISO 32000-1 §9.10.3): `bfchar` pairs and
    * `bfrange` triples in both forms — continuous (`<lo> <hi> <dst>`,
    * only the LAST 16-bit unit of dst increments per the spec) and
    * array (`<lo> <hi> [<d0> <d1> …]`). Returns (code → unicode, code
    * width in bytes, from the first codespacerange; 2 when absent —
    * the Identity-H standard). Section bodies parse as a WHOLE token
    * stream, not per line — real CMaps wrap array destinations across
    * lines and pack several bfchar pairs on one (line-oriented parsing
    * silently dropped those mappings); range spans clamp at 64k (a
    * damaged hi value must not allocate the heap). Package-private so
    * units drive the exact parser. */
  private[sources] def parseToUnicode(cmap: String): (Map[Int, String], Int) = {
    // section-body tokens: hex strings plus the array brackets the
    // bfrange array form uses (everything else is CMap syntax noise)
    val tok = """<([0-9A-Fa-f]+)>|(\[)|(\])""".r
    def utf16(h: String): String = {
      val even = if (h.length % 2 == 1) h + "0" else h
      val b = new Array[Byte](even.length / 2)
      var i = 0
      while (i < b.length) {
        b(i) = Integer.parseInt(even.substring(i * 2, i * 2 + 2), 16).toByte
        i += 1
      }
      new String(b, StandardCharsets.UTF_16BE)
    }
    val codeBytes =
      """(?s)begincodespacerange\s*<([0-9A-Fa-f]+)>""".r
        .findFirstMatchIn(cmap)
        .map(m => math.max(1, m.group(1).length / 2)).getOrElse(2)
    val map = Map.newBuilder[Int, String]
    // token stream of one section body: Left(hex) | Right(bracket)
    def tokens(begin: String, end: String): Iterator[Vector[Either[String, Char]]] =
      (s"(?s)$begin(.*?)$end").r.findAllMatchIn(cmap).map { sec =>
        tok.findAllMatchIn(sec.group(1)).map { m =>
          if (m.group(1) != null) Left(m.group(1))
          else Right(if (m.group(2) != null) '[' else ']')
        }.toVector
      }
    tokens("beginbfchar", "endbfchar").foreach { ts =>
      // pairs of hex tokens: <src> <dst>, any layout
      val hexes = ts.collect { case Left(h) => h }
      hexes.grouped(2).foreach {
        case Vector(src, dst) =>
          map += Integer.parseInt(src, 16) -> utf16(dst)
        case _ => // dangling trailing token in a damaged cmap: skip
      }
    }
    tokens("beginbfrange", "endbfrange").foreach { ts =>
      var i = 0
      while (i + 2 < ts.length || (i + 2 == ts.length &&
        ts(i).isLeft && ts(i + 1).isLeft)) {
        (ts(i), ts.lift(i + 1)) match {
          case (Left(loH), Some(Left(hiH))) =>
            val lo = Integer.parseInt(loH, 16)
            val hi = math.min(Integer.parseInt(hiH, 16), lo + 0xFFFF)
            ts.lift(i + 2) match {
              case Some(Right('[')) =>
                // array form: one dst per code until the close bracket
                var j = i + 3
                var c = lo
                while (j < ts.length && ts(j) != Right(']')) {
                  ts(j) match {
                    case Left(d) if c <= hi => map += c -> utf16(d); c += 1
                    case _ =>
                  }
                  j += 1
                }
                i = j + 1
              case Some(Left(d)) =>
                // continuous form: the last 16-bit unit increments
                val unit = d.takeRight(math.min(4, d.length))
                val prefix = d.dropRight(unit.length)
                val base = Integer.parseInt(unit, 16)
                var c = lo
                while (c <= hi) {
                  map += c -> utf16(prefix + f"${base + (c - lo)}%04X")
                  c += 1
                }
                i += 3
              case _ => i = ts.length // truncated triple: stop
            }
          case _ => i += 1 // stray bracket: resync on the next token
        }
      }
    }
    (map.result(), codeBytes)
  }

  /** The nested `key << … >>` dict TEXT inside `text` when the value
    * is inline; None when the key is absent or its value is an
    * indirect ref / non-dict. */
  private def inlineDict(text: String, key: String,
                         file: String): Option[String] =
    (java.util.regex.Pattern.quote(key) + """\s*<<""").r
      .findFirstMatchIn(text).map { m =>
        val start = m.end - 2
        text.substring(start, balancedDictEnd(text, start, file, 0))
      }

  /** Sequential `N G obj … endobj` index. Streams are skipped by
    * their direct /Length when present, else by `endstream` search
    * (indirect /Length — resolvable only after indexing, so the
    * search IS the resolution strategy). After the top-level scan,
    * every `/Type /ObjStm` member is indexed too ([[expandObjStm]]) —
    * that is where PDF 1.5+ writers keep the page tree. */
  private def indexObjects(s: String, bytes: Array[Byte],
                           file: String): Map[Int, Obj] = {
    // java matcher with find(pos): no per-iteration substring copies
    // (a 256 MiB file re-substringed per object would be quadratic)
    val objHead = java.util.regex.Pattern
      .compile("""(\d+)\s+\d+\s+obj""", java.util.regex.Pattern.DOTALL)
      .matcher(s)
    var out = Map.empty[Int, Obj]
    var pos = 0
    while (pos < s.length) {
      if (!objHead.find(pos)) pos = s.length
      else {
          val num = objHead.group(1).toInt
          val bodyStart = objHead.end
          // dict region: balanced << >> when present
          val dictStart = skipWs(s, bodyStart)
          val (dict, dictEnd) =
            if (s.startsWith("<<", dictStart)) {
              val e = balancedDictEnd(s, dictStart, file, num)
              (s.substring(dictStart, e), e)
            } else ("", dictStart)
          val afterDict = skipWs(s, dictEnd)
          if (s.startsWith("stream", afterDict)) {
            var dataStart = afterDict + "stream".length
            if (dataStart < s.length && s.charAt(dataStart) == '\r')
              dataStart += 1
            if (dataStart < s.length && s.charAt(dataStart) == '\n')
              dataStart += 1
            val len = dictInt(dict, "/Length")
            val dataEnd = len match {
              case Some(n) if dataStart + n <= s.length => dataStart + n
              case Some(n) => throw GraftError.DataTransfer(
                s"$file: object $num stream truncated " +
                  s"(/Length $n past end of file)")
              case None =>
                val e = s.indexOf("endstream", dataStart)
                if (e < 0) throw GraftError.DataTransfer(
                  s"$file: object $num stream without endstream")
                // trailing EOL before the keyword belongs to the marker
                var t = e
                if (t > dataStart && s.charAt(t - 1) == '\n') t -= 1
                if (t > dataStart && s.charAt(t - 1) == '\r') t -= 1
                t
            }
            val payload = java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd)
            val endObj = s.indexOf("endobj", dataEnd)
            out += (num -> Obj(dict, payload))
            pos = if (endObj < 0) dataEnd else endObj + "endobj".length
          } else {
            val endObj = s.indexOf("endobj", bodyStart)
            if (endObj < 0)
              throw GraftError.DataTransfer(
                s"$file: object $num without endobj")
            // non-dict bodies (bare names, numbers, arrays) keep their
            // trimmed text — an indirect /Encoding may resolve to a
            // bare NAME object, and ObjStm members already store plain
            // values this way
            val body =
              if (dict.nonEmpty) dict
              else s.substring(bodyStart, endObj).trim
            out += (num -> Obj(body, null))
            pos = endObj + "endobj".length
          }
      }
    }
    if (out.isEmpty)
      throw GraftError.DataTransfer(s"$file: no PDF objects found")
    // BEFORE ObjStm expansion: an encrypted PDF's streams are
    // ciphertext, and inflating one dies with a misleading
    // "FlateDecode stream corrupt" that blames the file — name the
    // real cause first
    detectEncrypt(s, out, file)
    expandObjStm(out, file)
  }

  /** Loud, typed rejection of encrypted PDFs (ISO 32000-1 §7.6): the
    * `/Encrypt` entry lives in the file trailer dictionary — the
    * classic `trailer << … >>` form and/or the xref-STREAM trailer
    * (`/Type /XRef` dict, §7.5.8.2, which "contains the entries of
    * the trailer dictionary"). Both spellings are checked; content
    * strings never false-positive because only trailer/XRef dicts are
    * examined, not the body. Without the (RC4/AES) decryption layer
    * every stream is ciphertext and every literal string garbage, so
    * extraction cannot proceed — and silently emitting mojibake or
    * blaming "stream corrupt" are exactly the failure modes this
    * reader bans. */
  private[sources] def detectEncrypt(s: String, top: Map[Int, Obj],
                                     file: String): Unit = {
    def loud(): Nothing = throw GraftError.DataTransfer(
      s"$file: PDF is encrypted (/Encrypt in the trailer) — encrypted " +
        "PDFs are not supported; decrypt upstream (e.g. `qpdf " +
        "--decrypt`) before text extraction")
    val encKey = """/Encrypt(?![A-Za-z0-9])""".r
    var t = s.indexOf("trailer")
    while (t >= 0) {
      val lt = s.indexOf("<<", t)
      if (lt >= 0 &&
        encKey.findFirstIn(
          s.substring(lt, balancedDictEnd(s, lt, file, 0))).isDefined)
        loud()
      t = s.indexOf("trailer", t + "trailer".length)
    }
    top.valuesIterator.foreach { o =>
      if (o.stream != null && hasName(o.dict, "/Type", "/XRef") &&
        encKey.findFirstIn(o.dict).isDefined) loud()
    }
  }

  /** Indexes the members of every `/Type /ObjStm` compressed object
    * stream (ISO 32000-1 §7.5.7): the decoded stream opens with N
    * `objnum offset` integer pairs, then the member objects start at
    * byte /First (offsets are relative to it). Members are dicts or
    * plain values — §7.5.7 forbids stream objects inside an ObjStm, so
    * `Obj.stream` is always null here. Collision POLICY (a documented
    * heuristic — this reader ignores xref, the authoritative arbiter,
    * because real-world xrefs are so often broken): a TOP-LEVEL object
    * beats any ObjStm member, and between members the HIGHEST-numbered
    * container wins. Incremental updates append both their superseding
    * top-level objects and any NEW ObjStm containers (which take
    * higher object numbers in every real writer), so both rules pick
    * the newest version; an update that packed a newer member into a
    * LOWER-numbered container would lose — accepted and documented.
    * Damaged framing (missing /N//First, short or non-numeric header,
    * offset past the data) is LOUD with the container's number. */
  private def expandObjStm(top: Map[Int, Obj],
                           file: String): Map[Int, Obj] = {
    val containers = top.filter { case (_, o) =>
      o.stream != null && hasName(o.dict, "/Type", "/ObjStm") }
    if (containers.isEmpty) return top
    var out = top
    // highest container first: its members insert before lower ones can
    containers.toSeq.sortBy(-_._1).foreach { case (cnum, c) =>
      def loud(what: String): Nothing = throw GraftError.DataTransfer(
        s"$file: object stream $cnum $what — damaged ObjStm framing")
      val n = dictInt(c.dict, "/N").getOrElse(loud("has no direct /N"))
      val first =
        dictInt(c.dict, "/First").getOrElse(loud("has no direct /First"))
      val ds = new String(decodeStream(c, file, cnum, top),
        StandardCharsets.ISO_8859_1)
      if (first > ds.length)
        loud(s"/First $first past the ${ds.length}-byte decoded data")
      val toks = ds.substring(0, first).trim.split("\\s+")
      if (toks.length < 2 * n)
        loud(s"header has ${toks.length} integers, /N $n needs ${2 * n}")
      val pairs = (0 until n).map { i =>
        val (a, b) = (toks(2 * i), toks(2 * i + 1))
        if (!a.forall(_.isDigit) || !b.forall(_.isDigit) || a.isEmpty ||
          b.isEmpty) loud(s"non-numeric header pair '$a $b'")
        (a.toInt, b.toInt)
      }
      val offs = pairs.map(_._2).sorted
      pairs.foreach { case (objNum, off) =>
        val start = first + off
        if (start > ds.length)
          loud(s"member $objNum offset $off past the decoded data")
        val end = offs.find(_ > off).map(first + _).getOrElse(ds.length)
          .min(ds.length)
        val bodyStart = skipWs(ds, start)
        val body =
          if (ds.startsWith("<<", bodyStart))
            ds.substring(bodyStart,
              balancedDictEnd(ds, bodyStart, file, objNum))
          else ds.substring(bodyStart, end).trim
        if (!out.contains(objNum)) out += (objNum -> Obj(body, null))
      }
    }
    out
  }

  /** Page numbers in tree order: trailer/Catalog → /Pages → /Kids
    * (recursive); fallback = `/Type /Page` objects by object number. */
  private def pageOrder(s: String, objs: Map[Int, Obj],
                        file: String): Seq[Int] = {
    def kidsWalk(num: Int, depth: Int): Seq[Int] = {
      if (depth > 64) throw GraftError.DataTransfer(
        s"$file: page tree deeper than 64 — cyclic /Kids?")
      objs.get(num) match {
        case Some(o) if o.dict.contains("/Kids") =>
          dictRefs(o.dict, "/Kids").flatMap(kidsWalk(_, depth + 1))
        case Some(o) if hasName(o.dict, "/Type", "/Page") => Seq(num)
        case _ => Nil
      }
    }
    // /Root from the (last) classic trailer; xref-stream files without
    // one fall back to any /Type /Catalog object
    val rootRef = {
      val t = s.lastIndexOf("trailer")
      val from = if (t >= 0) t else 0
      """/Root\s+(\d+)\s+\d+\s+R""".r.findFirstMatchIn(s.substring(from))
        .map(_.group(1).toInt)
    }
    val catalogNum = rootRef.orElse(objs.collectFirst {
      case (n, o) if hasName(o.dict, "/Type", "/Catalog") => n
    })
    val viaTree = catalogNum.toSeq.flatMap { c =>
      objs.get(c).toSeq.flatMap(o =>
        dictRefs(o.dict, "/Pages").flatMap(kidsWalk(_, 0)))
    }
    if (viaTree.nonEmpty) viaTree
    else {
      // documented fallback: /Type /Page objects in object order
      val flat = objs.toSeq
        .filter { case (_, o) => hasName(o.dict, "/Type", "/Page") }
        .map(_._1).sorted
      if (flat.isEmpty)
        throw GraftError.DataTransfer(s"$file: no pages found")
      flat
    }
  }

  private def skipWs(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && (s.charAt(i) match {
      case ' ' | '\t' | '\r' | '\n' | '\f' | '\u0000' => true
      case '%' => // comment to EOL
        var j = i
        while (j < s.length && s.charAt(j) != '\n') j += 1
        i = j; true
      case _ => false
    })) i += 1
    i
  }

  /** End index (exclusive) of a balanced `<< … >>` starting at `i`. */
  private def balancedDictEnd(s: String, i: Int, file: String,
                              obj: Int): Int = {
    var depth = 0
    var p = i
    while (p < s.length - 1) {
      if (s.startsWith("<<", p)) { depth += 1; p += 2 }
      else if (s.startsWith(">>", p)) {
        depth -= 1; p += 2
        if (depth == 0) return p
      }
      else if (s.charAt(p) == '(') p = skipLiteralString(s, p)
      else p += 1
    }
    throw GraftError.DataTransfer(
      s"$file: object $obj dict never closes (<<…>> unbalanced)")
  }

  private def skipLiteralString(s: String, open: Int): Int = {
    var p = open + 1
    var depth = 1
    while (p < s.length && depth > 0) {
      s.charAt(p) match {
        case '\\' => p += 1
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      p += 1
    }
    p
  }

  /** Direct integer value of a dict key, None when absent/indirect. */
  private def dictInt(dict: String, key: String): Option[Int] =
    (java.util.regex.Pattern.quote(key) + """\s+(\d+)(?!\s+\d+\s+R)""").r
      .findFirstMatchIn(dict).map(_.group(1).toInt)

  /** Indirect references under a key: single `N G R` or an array. */
  private def dictRefs(dict: String, key: String): Seq[Int] = {
    val k = java.util.regex.Pattern.quote(key)
    (k + """\s*\[([^\]]*)\]""").r.findFirstMatchIn(dict) match {
      case Some(m) =>
        """(\d+)\s+\d+\s+R""".r.findAllMatchIn(m.group(1))
          .map(_.group(1).toInt).toSeq
      case None =>
        (k + """\s+(\d+)\s+\d+\s+R""").r.findFirstMatchIn(dict)
          .map(_.group(1).toInt).toSeq
    }
  }

  private def hasName(dict: String, key: String, value: String): Boolean =
    (java.util.regex.Pattern.quote(key) + """\s*""" +
      java.util.regex.Pattern.quote(value) + """(?![A-Za-z0-9])""").r
      .findFirstIn(dict).isDefined

  /** Applies the stream's `/Filter` pipeline — a single name or an
    * array chain like `[/ASCII85Decode /FlateDecode]`, applied in
    * order per ISO 32000-1 §7.4.1. Supported: `/FlateDecode` (zlib),
    * `/ASCIIHexDecode`, `/ASCII85Decode`, `/LZWDecode`; raw streams
    * pass through. A `/Predictor` > 1 in the stream's decode parms is
    * applied AFTER the filter chain ([[applyPredictor]] — per §7.4.4.4
    * the predictor post-processes the decompressed bytes; with an
    * array chain it belongs to the final decompression filter, the
    * only place real writers put one). `/DecodeParms` resolves through
    * [[decodeParmsFor]] — inline dict, indirect ref, or the ARRAY form
    * aligned with the filter chain; dangling refs and a predictor on a
    * NON-final array entry are LOUD (silently skipping or misplacing
    * the parms would ship every row of a predicted stream as
    * garbage). Anything else (the image codecs
    * /DCTDecode, /JBIG2Decode, /CCITTFaxDecode, /JPXDecode — pixels,
    * not text, under any decoding) is a LOUD error: passing them
    * through would hand the caller silently-garbled data, the one
    * failure mode this reader never allows. */
  private def decodeStream(o: Obj, file: String, num: Int,
      objs: Map[Int, Obj]): Array[Byte] = {
    val filters: Seq[String] =
      """/Filter\s*\[((?:\s*/[A-Za-z0-9]+)+)\s*\]""".r
        .findFirstMatchIn(o.dict) match {
        case Some(m) =>
          "/([A-Za-z0-9]+)".r.findAllMatchIn(m.group(1))
            .map(_.group(1)).toSeq
        case None =>
          """/Filter\s*/([A-Za-z0-9]+)""".r
            .findFirstMatchIn(o.dict).map(_.group(1)).toSeq
      }
    val decoded = filters.foldLeft(o.stream) { (data, f) =>
      applyFilter(f, data, file, num)
    }
    applyPredictor(decodeParmsFor(o.dict, objs, file, num), decoded,
      file, num)
  }

  /** The decode-parms dict TEXT whose `/Predictor` (if any) applies to
    * the stream. Three spellings (§7.4.1): an inline dict / single
    * indirect ref (the parms text resolves directly — a dangling ref
    * is LOUD), or an ARRAY aligned with the `/Filter` array — parsed
    * entry-by-entry (`<<…>>`, `null`, or `N G R`, each resolved). The
    * predictor post-processes the DECOMPRESSED bytes, so this reader
    * supports it only on the FINAL filter — where real writers put it;
    * an array that attaches `/Predictor` to a NON-final entry is a
    * LOUD error (applying it after the whole chain would silently
    * garble every row — the r17 first-ref-wins textual scan did
    * exactly that). Package-private so units drive each spelling. */
  private[sources] def decodeParmsFor(dict: String, objs: Map[Int, Obj],
      file: String, num: Int): String = {
    def missing(r: Int): Nothing = throw GraftError.DataTransfer(
      s"$file: object $num /DecodeParms $r 0 R references a missing " +
        "object — cannot know whether the stream is row-predicted")
    """/DecodeParms\s*\[""".r.findFirstMatchIn(dict) match {
      case Some(m) =>
        val entries = scala.collection.mutable.ArrayBuffer.empty[String]
        val ref = java.util.regex.Pattern.compile("""(\d+)\s+\d+\s+R""")
        var p = m.end
        var done = false
        while (!done) {
          p = skipWs(dict, p)
          if (p >= dict.length) throw GraftError.DataTransfer(
            s"$file: object $num /DecodeParms array never closes")
          if (dict.charAt(p) == ']') done = true
          else if (dict.startsWith("<<", p)) {
            val e = balancedDictEnd(dict, p, file, num)
            entries += dict.substring(p, e); p = e
          } else if (dict.startsWith("null", p)) {
            entries += ""; p += 4
          } else {
            val rm = ref.matcher(dict)
            rm.region(p, dict.length)
            if (rm.lookingAt()) {
              val rn = rm.group(1).toInt
              entries += objs.getOrElse(rn, missing(rn)).dict
              p = rm.end()
            } else throw GraftError.DataTransfer(
              s"$file: object $num /DecodeParms array entry " +
                s"'${dict.substring(p, math.min(p + 20, dict.length))}' " +
                "is not a dict, null, or indirect reference")
          }
        }
        if (entries.isEmpty) ""
        else {
          entries.init.zipWithIndex.foreach { case (e, i) =>
            if (dictInt(e, "/Predictor").exists(_ > 1))
              throw GraftError.DataTransfer(
                s"$file: object $num /DecodeParms attaches /Predictor " +
                  s"to non-final filter entry ${i + 1} of " +
                  s"${entries.size} — only a final-filter predictor is " +
                  "supported (any other placement would garble rows)")
          }
          entries.last
        }
      case None =>
        dictRefs(dict, "/DecodeParms").headOption match {
          case Some(r) => objs.getOrElse(r, missing(r)).dict
          case None => dict
        }
    }
  }

  /** Undoes `/Predictor` row filtering (ISO 32000-1 §7.4.4.4): 2 =
    * TIFF horizontal differencing (8-bit components only — other
    * depths are loud), ≥10 = the PNG family, where EVERY row leads
    * with its own filter-type byte (0 None, 1 Sub, 2 Up, 3 Average,
    * 4 Paeth) regardless of which predictor number the dict named.
    * Geometry comes from `/Columns`/`/Colors`/`/BitsPerComponent`
    * (defaults 1/1/8). Truncated rows and unknown filter-type bytes
    * are LOUD — a misaligned unfilter garbles every later row. */
  private def applyPredictor(dict: String, data: Array[Byte],
                             file: String, num: Int): Array[Byte] = {
    val pred = dictInt(dict, "/Predictor").getOrElse(1)
    if (pred <= 1) return data
    def loud(what: String): Nothing = throw GraftError.DataTransfer(
      s"$file: object $num /Predictor $pred: $what")
    val columns = dictInt(dict, "/Columns").getOrElse(1)
    val colors = dictInt(dict, "/Colors").getOrElse(1)
    val bpc = dictInt(dict, "/BitsPerComponent").getOrElse(8)
    if (columns <= 0 || colors <= 0 || bpc <= 0)
      loud(s"bad geometry (/Columns $columns /Colors $colors " +
        s"/BitsPerComponent $bpc)")
    // long math: a hostile /Columns must produce a loud error, not an
    // int overflow into a negative row length (the whole-rows checks
    // below catch every merely-too-big-for-this-stream geometry)
    val rowLenL = (columns.toLong * colors * bpc + 7) / 8
    if (rowLenL >= Int.MaxValue)
      loud(s"row length $rowLenL exceeds the supported 2 GiB row bound")
    val rowLen = rowLenL.toInt
    val bpp = math.max(1, colors * bpc / 8)
    if (pred == 2) {
      // TIFF horizontal differencing: each component adds its left
      // neighbour; sub-byte depths would need bit-level carries
      if (bpc != 8)
        loud(s"TIFF predictor with /BitsPerComponent $bpc — only 8 " +
          "is supported (sub-byte differencing)")
      if (data.length % rowLen != 0)
        loud(s"${data.length} bytes is not a whole number of " +
          s"$rowLen-byte rows")
      val out = data.clone()
      var row = 0
      while (row < out.length) {
        var i = bpp
        while (i < rowLen) {
          out(row + i) = ((out(row + i) & 0xff) +
            (out(row + i - bpp) & 0xff)).toByte
          i += 1
        }
        row += rowLen
      }
      out
    } else if (pred >= 10) {
      val stride = rowLen + 1
      if (data.length % stride != 0)
        loud(s"${data.length} bytes is not a whole number of " +
          s"${stride}-byte (filter-tag + $rowLen) rows")
      val rows = data.length / stride
      val out = new Array[Byte](rows * rowLen)
      var r = 0
      while (r < rows) {
        val ft = data(r * stride) & 0xff
        val src = r * stride + 1
        val dst = r * rowLen
        val prv = dst - rowLen // previous UNFILTERED row
        var i = 0
        while (i < rowLen) {
          val raw = data(src + i) & 0xff
          val left = if (i >= bpp) out(dst + i - bpp) & 0xff else 0
          val up = if (r > 0) out(prv + i) & 0xff else 0
          val upLeft =
            if (r > 0 && i >= bpp) out(prv + i - bpp) & 0xff else 0
          val v = ft match {
            case 0 => raw
            case 1 => raw + left
            case 2 => raw + up
            case 3 => raw + (left + up) / 2
            case 4 => // Paeth: nearest of left/up/upLeft to p
              val p = left + up - upLeft
              val pa = math.abs(p - left)
              val pb = math.abs(p - up)
              val pc = math.abs(p - upLeft)
              raw + (if (pa <= pb && pa <= pc) left
                     else if (pb <= pc) up else upLeft)
            case other =>
              loud(s"row $r has unknown PNG filter type $other")
          }
          out(dst + i) = v.toByte
          i += 1
        }
        r += 1
      }
      out
    } else loud("predictor numbers 3–9 are not defined by §7.4.4.4")
  }

  private def applyFilter(name: String, data: Array[Byte], file: String,
                          num: Int): Array[Byte] = name match {
    case "FlateDecode" =>
      val inf = new Inflater()
      try {
        inf.setInput(data)
        val out = new java.io.ByteArrayOutputStream(data.length * 4)
        val buf = new Array[Byte](8192)
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0 && inf.needsInput())
            throw GraftError.DataTransfer(
              s"$file: object $num FlateDecode stream truncated")
          out.write(buf, 0, n)
        }
        out.toByteArray
      } catch {
        case e: java.util.zip.DataFormatException =>
          throw GraftError.DataTransfer(
            s"$file: object $num FlateDecode stream corrupt: " +
              e.getMessage)
      } finally inf.end()
    case "ASCIIHexDecode" => asciiHexDecode(data, file, num)
    case "ASCII85Decode" => ascii85Decode(data, file, num)
    case "LZWDecode" => lzwDecode(data, file, num)
    case other =>
      throw GraftError.DataTransfer(
        s"$file: object $num uses unsupported stream filter " +
          s"/$other — FlateDecode/ASCIIHexDecode/ASCII85Decode/" +
          "LZWDecode and raw streams extract text")
  }

  /** §7.4.2: hex pairs, whitespace ignored, `>` is EOD, a trailing odd
    * digit implies a final 0. Non-hex bytes are LOUD. */
  private def asciiHexDecode(data: Array[Byte], file: String,
                             num: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 1)
    var hi = -1
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = (data(i) & 0xff).toChar
      val v = Character.digit(c, 16)
      if (v >= 0) {
        if (hi < 0) hi = v
        else { out.write((hi << 4) | v); hi = -1 }
      } else if (c == '>') done = true
      else if (!c.isWhitespace && c != '\u0000')
        throw GraftError.DataTransfer(
          s"$file: object $num ASCIIHexDecode: illegal character " +
            s"'$c' at $i")
      i += 1
    }
    if (hi >= 0) out.write(hi << 4) // odd final digit: low nibble 0
    out.toByteArray
  }

  /** §7.4.3: base-85 groups of 5 chars `!`..`u` → 4 bytes; `z` = four
    * zero bytes (only BETWEEN groups); `~>` is EOD; a trailing partial
    * group of n chars yields n-1 bytes. Out-of-range bytes are LOUD,
    * and so is a full group whose base-85 value exceeds 2^32 − 1
    * (e.g. `uuuuu` — §7.4.3 calls it an error; truncating to the low
    * 32 bits would silently garble). */
  private def ascii85Decode(data: Array[Byte], file: String,
                            num: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 4 / 5 + 4)
    val group = new Array[Int](5)
    var k = 0
    var i = 0
    var done = false
    def flush(chars: Int): Unit = {
      // pad with 'u' (84) per the spec, emit chars-1 bytes
      var v = 0L
      var j = 0
      while (j < 5) { v = v * 85 + (if (j < chars) group(j) else 84); j += 1 }
      if (chars == 5 && v > 0xFFFFFFFFL)
        throw GraftError.DataTransfer(
          s"$file: object $num ASCII85Decode: group value exceeds " +
            "2^32 - 1 (§7.4.3 error, not truncatable)")
      val bytes = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      out.write(bytes, 0, chars - 1)
    }
    while (i < data.length && !done) {
      val c = (data(i) & 0xff).toChar
      if (c >= '!' && c <= 'u') {
        group(k) = c - '!'; k += 1
        if (k == 5) { flush(5); k = 0 }
      } else if (c == 'z' && k == 0) out.write(Array[Byte](0, 0, 0, 0))
      else if (c == '~') done = true
      else if (!c.isWhitespace && c != '\u0000')
        throw GraftError.DataTransfer(
          s"$file: object $num ASCII85Decode: illegal character '$c' at $i")
      i += 1
    }
    if (k == 1)
      throw GraftError.DataTransfer(
        s"$file: object $num ASCII85Decode: dangling single character " +
          "in the final group")
    if (k > 1) flush(k)
    out.toByteArray
  }

  /** §7.4.4: PDF LZW — 8-bit symbols, variable 9–12-bit codes, Clear
    * (256) resets the table, EOD (257) ends, code width grows ONE CODE
    * EARLY (`EarlyChange` default 1; PDF writers that set 0 are rare
    * and would fail loudly as a corrupt-code error, never silently).
    * Truncated input or an out-of-range code is LOUD. */
  private def lzwDecode(data: Array[Byte], file: String,
                        num: Int): Array[Byte] = {
    def loud(what: String): Nothing = throw GraftError.DataTransfer(
      s"$file: object $num LZWDecode: $what")
    val out = new java.io.ByteArrayOutputStream(data.length * 3)
    // dictionary: entries 0..255 literal, 256 clear, 257 EOD
    val dict = new Array[Array[Byte]](4096)
    var dictSize = 258
    var width = 9
    def reset(): Unit = { dictSize = 258; width = 9 }
    var bitBuf = 0L
    var bitCnt = 0
    var prev: Array[Byte] = null
    var i = 0
    var done = false
    while (!done) {
      while (bitCnt < width && i < data.length) {
        bitBuf = (bitBuf << 8) | (data(i) & 0xff); bitCnt += 8; i += 1
      }
      if (bitCnt < width) {
        if (prev != null) loud("truncated before EOD")
        done = true
      } else {
        val code = ((bitBuf >> (bitCnt - width)) & ((1L << width) - 1)).toInt
        bitCnt -= width
        if (code == 256) { reset(); prev = null }
        else if (code == 257) done = true
        else {
          val entry: Array[Byte] =
            if (code < 256) Array(code.toByte)
            else if (code < dictSize && code >= 258 && dict(code) != null)
              dict(code)
            else if (code == dictSize && prev != null)
              prev :+ prev(0) // the KwKwK case
            else loud(s"out-of-range code $code (dict $dictSize)")
          out.write(entry)
          if (prev != null && dictSize < 4096) {
            dict(dictSize) = prev :+ entry(0)
            dictSize += 1
          }
          // EarlyChange=1: width grows when the NEXT code would not fit
          if (dictSize + 1 >= (1 << width) && width < 12) width += 1
          prev = entry
        }
      }
    }
    out.toByteArray
  }

  // ----------------------- content-stream text -------------------------

  /** Appends the text a content stream shows. String operands stay RAW
    * BYTES until a show operator fires, because the decode depends on
    * the font ACTIVE at that show (`Tf` tracking): simple fonts decode
    * Latin-1 / BOM'd UTF-16BE as before; a Type0 font with a ToUnicode
    * map groups the bytes into CID codes and maps them to Unicode. */
  private def extractText(content: Array[Byte], out: StringBuilder,
                          fonts: Map[String, FontInfo]): Unit = {
    val s = new String(content, StandardCharsets.ISO_8859_1)
    var i = 0
    var lastString: Array[Byte] = null      // most recent string operand
    var lastArray: Seq[Array[Byte]] = null  // most recent array's strings
    var lastName: String = null             // most recent /Name operand
    var curFont: FontInfo = null            // active font (Tf)
    var num2: Double = 0               // 2nd-to-last numeric operand
    var num1: Double = 0               // last numeric operand
    var pendingBreak = false
    var shownOnPage = false
    def decodeShown(b: Array[Byte]): String =
      if (curFont != null && curFont.type0 && curFont.toUnicode.isDefined) {
        val m = curFont.toUnicode.get
        val sb = new StringBuilder(b.length)
        var p = 0
        while (p < b.length) {
          var code = 0
          var k = 0
          while (k < curFont.codeBytes && p < b.length) {
            code = (code << 8) | (b(p) & 0xff); p += 1; k += 1
          }
          sb.append(m.getOrElse(code, "�"))
        }
        sb.toString
      } else if (curFont != null && !curFont.type0 &&
        curFont.simpleEnc.isDefined) {
        // simple font with a parsed /Encoding: bytes map through the
        // 256-entry table (WinAnsi/MacRoman base + /Differences)
        val t = curFont.simpleEnc.get
        val sb = new StringBuilder(b.length)
        var p = 0
        while (p < b.length) { sb.append(t(b(p) & 0xff)); p += 1 }
        sb.toString
      } else decodeStringBytes(b)
    def showText(t: String): Unit = {
      if (t != null && t.nonEmpty) {
        if (pendingBreak && shownOnPage) out.append('\n')
        out.append(t)
        shownOnPage = true
      }
      pendingBreak = false
    }
    def show(b: Array[Byte]): Unit =
      showText(if (b == null) null else decodeShown(b))
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%') { while (i < s.length && s.charAt(i) != '\n') i += 1 }
      else if (c == '(') {
        val (t, e) = literalString(s, i); lastString = t; i = e
      }
      else if (s.startsWith("<<", i)) i += 2
      else if (c == '<') { val (t, e) = hexString(s, i); lastString = t; i = e }
      else if (c == '[') {
        val (arr, e) = arrayStrings(s, i); lastArray = arr; i = e
      }
      else if (c == '-' || c == '+' || c == '.' || c.isDigit) {
        var j = i + 1
        while (j < s.length && (s.charAt(j).isDigit || s.charAt(j) == '.')) j += 1
        num2 = num1
        num1 = try s.substring(i, j).toDouble catch { case _: Throwable => 0 }
        i = j
      }
      else if (c == '/') { // name: remember for Tf font selection
        var j = i + 1
        while (j < s.length && !delim(s.charAt(j))) j += 1
        lastName = s.substring(i + 1, j)
        i = j
      }
      else if (c.isLetter || c == '\'' || c == '"' || c == '*') {
        var j = i
        while (j < s.length && !delim(s.charAt(j))) j += 1
        val op = s.substring(i, j)
        op match {
          case "Tj" => show(lastString)
          case "'" => pendingBreak = true; show(lastString)
          case "\"" => pendingBreak = true; show(lastString)
          case "TJ" =>
            if (lastArray != null)
              showText(lastArray.map(decodeShown).mkString)
          case "Tf" =>
            if (lastName != null) curFont = fonts.getOrElse(lastName, null)
          case "T*" => pendingBreak = true
          case "Td" | "TD" => if (num1 != 0) pendingBreak = true
          case "BI" => // inline image: skip to EI
            val e = s.indexOf("EI", j)
            i = if (e < 0) s.length else e + 2
          case _ => // positioning/state ops: ignore
        }
        if (op != "BI") i = j
      }
      else i += 1
    }
  }

  private def delim(c: Char): Boolean = c match {
    case ' ' | '\t' | '\r' | '\n' | '\f' | '\u0000' | '(' | ')' | '<' |
         '>' | '[' | ']' | '{' | '}' | '/' | '%' => true
    case _ => false
  }

  /** RAW BYTES of a literal string at `open` = '('; returns
    * (bytes, end) — the decode happens at show time, font-dependent. */
  private def literalString(s: String, open: Int): (Array[Byte], Int) = {
    val raw = new java.io.ByteArrayOutputStream(64)
    var p = open + 1
    var depth = 1
    while (p < s.length && depth > 0) {
      val c = s.charAt(p)
      if (c == '\\' && p + 1 < s.length) {
        val e = s.charAt(p + 1)
        e match {
          case 'n' => raw.write('\n'); p += 2
          case 'r' => raw.write('\r'); p += 2
          case 't' => raw.write('\t'); p += 2
          case 'b' => raw.write('\b'); p += 2
          case 'f' => raw.write('\f'); p += 2
          case '(' => raw.write('('); p += 2
          case ')' => raw.write(')'); p += 2
          case '\\' => raw.write('\\'); p += 2
          case '\r' => // line continuation (\CR or \CRLF)
            p += 2; if (p < s.length && s.charAt(p) == '\n') p += 1
          case '\n' => p += 2
          case d if d >= '0' && d <= '7' =>
            var v = 0; var n = 0; var q = p + 1
            while (q < s.length && n < 3 && s.charAt(q) >= '0' &&
              s.charAt(q) <= '7') { v = v * 8 + (s.charAt(q) - '0'); q += 1; n += 1 }
            raw.write(v & 0xff); p = q
          case other => raw.write(other.toInt & 0xff); p += 2
        }
      } else if (c == '(') { depth += 1; raw.write('('); p += 1 }
      else if (c == ')') {
        depth -= 1; if (depth > 0) raw.write(')'); p += 1
      }
      else { raw.write(c.toInt & 0xff); p += 1 }
    }
    (raw.toByteArray, p)
  }

  /** RAW BYTES of a hex string at `open` = '<'; returns (bytes, end). */
  private def hexString(s: String, open: Int): (Array[Byte], Int) = {
    var p = open + 1
    val hex = new StringBuilder
    while (p < s.length && s.charAt(p) != '>') {
      val c = s.charAt(p)
      if (!c.isWhitespace) hex.append(c)
      p += 1
    }
    if (hex.length % 2 == 1) hex.append('0') // §7.3.4.3: odd pads with 0
    val bytes = new Array[Byte](hex.length / 2)
    var i = 0
    while (i < bytes.length) {
      bytes(i) = Integer.parseInt(hex.substring(i * 2, i * 2 + 2), 16).toByte
      i += 1
    }
    (bytes, p + 1)
  }

  /** UTF-16BE when BOM'd (§7.9.2.2), else Latin-1 (standard fonts). */
  private def decodeStringBytes(b: Array[Byte]): String =
    if (b.length >= 2 && (b(0) & 0xff) == 0xfe && (b(1) & 0xff) == 0xff)
      new String(b, 2, b.length - 2, StandardCharsets.UTF_16BE)
    else new String(b, StandardCharsets.ISO_8859_1)

  /** Raw string-operand bytes inside an array literal at `open` = '['. */
  private def arrayStrings(s: String, open: Int): (Seq[Array[Byte]], Int) = {
    var p = open + 1
    val out = Seq.newBuilder[Array[Byte]]
    while (p < s.length && s.charAt(p) != ']') {
      s.charAt(p) match {
        case '(' => val (t, e) = literalString(s, p); out += t; p = e
        case '<' => val (t, e) = hexString(s, p); out += t; p = e
        case _ => p += 1
      }
    }
    (out.result(), p + 1)
  }

  // ----------------------------- write --------------------------------

  /** Writes one `<name>.pdf` per row under `dir` (names must be
    * path-safe and unique; loud otherwise). `pageChars > 0` splits the
    * text into pages of that many chars — the multi-page fixture
    * shape. Returns files written. Task-attempt temp + rename commit
    * like the other container sinks. */
  def write(df: DataFrame, dir: String, nameCol: String, textCol: String,
            pageChars: Int = 0, overwrite: Boolean = true): Long = {
    val fs = FileSystem.get(java.net.URI.create(dir), new Configuration())
    val out = new Path(dir)
    if (overwrite && fs.exists(out)) fs.delete(out, true)
    fs.mkdirs(out)
    val slim = df.select(col(nameCol).cast("string").as("name"),
      col(textCol).cast("string").as("text"))
    val counter = df.sparkSession.sparkContext.longAccumulator("pdf_files")
    slim.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val pfs = FileSystem.get(java.net.URI.create(dir), new Configuration())
      rows.foreach { r =>
        val name = r.getString(0)
        if (name == null || name.isEmpty || name.exists("/\\\u0000".contains(_)))
          throw GraftError.Configuration(
            s"pdf file name must be path-safe and non-empty: '$name'")
        val target = new Path(dir, s"$name.pdf")
        val tmp = new Path(dir,
          s"_tmp-$name-attempt-${TarSource.taskAttemptId()}.pdf")
        val st = pfs.create(tmp, true)
        try st.write(render(r.getString(1), pageChars)) finally st.close()
        TarSource.commitTemp(pfs, tmp, target)
        counter.add(1)
      }
    }
    counter.value
  }

  /** One minimal spec-compliant PDF: catalog(1) → pages(2) →
    * page(3,5,…) + FlateDecoded content(4,6,…) + Helvetica font
    * (last), classic xref with correct offsets. With `objStm = true`
    * the renderer emits the PDF 1.5+ writer shape instead: every
    * NON-stream object (catalog, page tree, page dicts, font) packs
    * into one FlateDecoded `/Type /ObjStm` (§7.5.7 — stream objects
    * may not live inside one, so the content streams stay top-level),
    * cross-referenced by a proper `/Type /XRef` stream (§7.5.8:
    * `/W [1 4 2]`, type-1 entries for top-level offsets, type-2
    * entries pointing members at their container+index) so the
    * fixture is readable by CONFORMING third-party parsers, not just
    * this repo's xref-ignoring scan. Both shapes read back
    * identically, which is exactly what the q_pdf_text gate exercises
    * by mixing them. `predictor = true` (ObjStm shape only)
    * additionally writes the container data through PNG Up row
    * filtering with `/DecodeParms << /Predictor 12 /Columns 24 >>` —
    * the pdftex-family writer shape whose absence used to reject
    * those files wholesale. */
  def render(text0: String, pageChars: Int,
             objStm: Boolean = false,
             predictor: Boolean = false): Array[Byte] = {
    require(!predictor || objStm,
      "predictor rendering applies to the ObjStm shape")
    val text = if (text0 == null) "" else text0
    val pages: Seq[String] =
      if (pageChars <= 0 || text.length <= pageChars) Seq(text)
      else text.grouped(pageChars).toSeq
    val nPages = pages.length
    val fontNum = 3 + 2 * nPages
    val dicts = Seq.newBuilder[(Int, String)]
    val streamObjs = Seq.newBuilder[(Int, Array[Byte])]
    dicts += (1 -> "<< /Type /Catalog /Pages 2 0 R >>")
    val kids = (0 until nPages).map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    dicts += (2 -> s"<< /Type /Pages /Kids [$kids] /Count $nPages >>")
    pages.zipWithIndex.foreach { case (p, i) =>
      val pageNum = 3 + 2 * i
      val contentNum = pageNum + 1
      dicts += (pageNum ->
        (s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          s"/Contents $contentNum 0 R /Resources << /Font " +
          s"<< /F1 $fontNum 0 R >> >> >>"))
      val content = s"BT /F1 12 Tf 72 720 Td ${pdfString(p)} Tj ET"
        .getBytes(StandardCharsets.ISO_8859_1)
      val deflated = deflate(content)
      val head = (s"<< /Length ${deflated.length} /Filter /FlateDecode >>" +
        "\nstream\n").getBytes(StandardCharsets.ISO_8859_1)
      streamObjs += (contentNum -> (head ++ deflated ++
        "\nendstream".getBytes(StandardCharsets.ISO_8859_1)))
    }
    dicts += (fontNum ->
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val memberList = dicts.result()
    val buf = new java.io.ByteArrayOutputStream(4096)
    def w(t: String): Unit = buf.write(t.getBytes(StandardCharsets.ISO_8859_1))
    if (!objStm) {
      val objects: Seq[(Int, Array[Byte])] = memberList.map { case (n, d) =>
        n -> d.getBytes(StandardCharsets.ISO_8859_1)
      } ++ streamObjs.result()
      w("%PDF-1.4\n")
      val offsets = objects.map { case (num, body) =>
        val off = buf.size()
        w(s"$num 0 obj\n")
        buf.write(body)
        w("\nendobj\n")
        num -> off
      }.toMap
      val xrefPos = buf.size()
      val maxNum = objects.map(_._1).max
      w(s"xref\n0 ${maxNum + 1}\n")
      w(f"${0}%010d 65535 f \n")
      (1 to maxNum).foreach { n =>
        w(f"${offsets.getOrElse(n, 0)}%010d 00000 n \n")
      }
      w(s"trailer << /Size ${maxNum + 1} /Root 1 0 R >>\n" +
        s"startxref\n$xrefPos\n%%EOF\n")
    } else {
      // PDF 1.5 shape: ObjStm container + content streams top-level,
      // cross-referenced by a /Type /XRef stream with type-2 entries
      // for the packed members (§7.5.8) — conforming parsers can walk
      // this fixture, not just the in-repo xref-ignoring scan
      val bodies = memberList.map(_._2)
      val offs = bodies.scanLeft(0)((a, b) => a + b.length + 1).init
      val header = memberList.map(_._1).zip(offs)
        .map { case (n, o) => s"$n $o" }.mkString(" ") + " "
      val raw = (header + bodies.mkString(" "))
        .getBytes(StandardCharsets.ISO_8859_1)
      // predictor shape: pad to whole rows with spaces (harmless after
      // the last member body) and PNG-Up-filter before deflating
      val cols = 24
      val (packed, parms) =
        if (!predictor) (deflate(raw), "")
        else {
          val padded = raw ++ Array.fill(
            (cols - raw.length % cols) % cols)(' '.toByte)
          (deflate(pngUpFilter(padded, cols)),
            s" /DecodeParms << /Predictor 12 /Columns $cols >>")
        }
      val stmNum = fontNum + 1
      val xrefNum = stmNum + 1
      val objStmBytes = (s"<< /Type /ObjStm /N ${memberList.length} " +
        s"/First ${header.length} /Length ${packed.length} " +
        s"/Filter /FlateDecode$parms >>\nstream\n")
        .getBytes(StandardCharsets.ISO_8859_1) ++ packed ++
        "\nendstream".getBytes(StandardCharsets.ISO_8859_1)
      val topObjs: Seq[(Int, Array[Byte])] =
        (stmNum -> objStmBytes) +: streamObjs.result()
      w("%PDF-1.5\n")
      var offsets = Map.empty[Int, Int]
      topObjs.foreach { case (num, body) =>
        offsets += (num -> buf.size())
        w(s"$num 0 obj\n")
        buf.write(body)
        w("\nendobj\n")
      }
      val xrefPos = buf.size()
      offsets += (xrefNum -> xrefPos)
      val memberIndex = memberList.map(_._1).zipWithIndex.toMap
      val size = xrefNum + 1
      // /W [1 4 2]: type byte, 4-byte offset/container, 2-byte gen/idx
      val table = new java.io.ByteArrayOutputStream(size * 7)
      def entry(t: Int, f2: Int, f3: Int): Unit = {
        table.write(t)
        table.write((f2 >> 24) & 0xff); table.write((f2 >> 16) & 0xff)
        table.write((f2 >> 8) & 0xff); table.write(f2 & 0xff)
        table.write((f3 >> 8) & 0xff); table.write(f3 & 0xff)
      }
      entry(0, 0, 0xFFFF) // object 0: free-list head
      (1 until size).foreach { n =>
        memberIndex.get(n) match {
          case Some(idx) => entry(2, stmNum, idx) // packed member
          case None => entry(1, offsets.getOrElse(n, 0), 0) // top-level
        }
      }
      val tbytes = table.toByteArray
      // the XRef stream is unfiltered (§7.5.8 allows raw) and carries
      // the trailer fields itself — no classic `trailer` keyword
      w(s"$xrefNum 0 obj\n<< /Type /XRef /Size $size /W [1 4 2] " +
        s"/Root 1 0 R /Length ${tbytes.length} >>\nstream\n")
      buf.write(tbytes)
      w("\nendstream\nendobj\n")
      w(s"startxref\n$xrefPos\n%%EOF\n")
    }
    buf.toByteArray
  }

  /** A PDF string operand for `text`: escaped literal when every char
    * fits Latin-1, else a BOM'd UTF-16BE hex string. */
  private[sources] def pdfString(text: String): String =
    if (text.forall(_ <= 'ÿ')) {
      val sb = new StringBuilder("(")
      text.foreach {
        case '\\' => sb.append("\\\\")
        case '(' => sb.append("\\(")
        case ')' => sb.append("\\)")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case c => sb.append(c)
      }
      sb.append(")").toString
    } else {
      val b = ("﻿" + text).getBytes(StandardCharsets.UTF_16BE)
      b.map(x => f"${x & 0xff}%02X").mkString("<", "", ">")
    }

  /** Writer-side PNG Up (type 2) row filter for the predictor fixture
    * shape: each `cols`-byte row leads with its filter-type byte and
    * stores byte-minus-byte-above (§7.4.4.4 / PNG spec filter 2). */
  private def pngUpFilter(data: Array[Byte], cols: Int): Array[Byte] = {
    require(data.length % cols == 0, s"${data.length} % $cols != 0")
    val rows = data.length / cols
    val out = new Array[Byte]((cols + 1) * rows)
    var r = 0
    while (r < rows) {
      out(r * (cols + 1)) = 2
      var i = 0
      while (i < cols) {
        val raw = data(r * cols + i) & 0xff
        val up = if (r > 0) data((r - 1) * cols + i) & 0xff else 0
        out(r * (cols + 1) + 1 + i) = ((raw - up) & 0xff).toByte
        i += 1
      }
      r += 1
    }
    out
  }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    try {
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }
}
