package graft.sources

import java.io.{BufferedInputStream, ByteArrayOutputStream, EOFException,
  InputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftError

/** WARC (Web ARChive, ISO 28500) container read/write — the format
  * Common Crawl ships, i.e. THE input container of a web-scale LLM
  * training-data pipeline. Beyond-reference (the reference has no web
  * archive connector), designed Spark-first like the ORC/Avro paths.
  *
  * Read semantics:
  *  - every record yields (record_id, warc_type, target_uri, warc_date,
  *    content_type, content: binary, refers_to, payload_digest) —
  *    headers are case-insensitive per the spec (§4, "field names are
  *    not case sensitive"); `refers_to`/`payload_digest` carry the
  *    WARC-Refers-To / WARC-Payload-Digest headers (revisit-record
  *    dedup machinery, see [[revisitHints]]), empty when absent;
  *  - records whose Content-Type is `application/http` additionally
  *    parse the HTTP envelope inside the content block: http_status,
  *    http_content_type (the envelope's Content-Type header) and
  *    http_body (the bytes after the first blank line). A malformed
  *    envelope yields NULL http_* fields with the raw content intact —
  *    the web is full of broken responses and a crawl read must not
  *    die on one (same lenient-decode posture as audioStats);
  *  - the full HTTP header map of a well-formed envelope is surfaced
  *    as `http_headers` (lowercased names) — `X-Robots-Tag` consent
  *    directives, cache headers, and content-language all ride there;
  *  - plain `.warc`, gzipped `.warc.gz`, AND zstd `.warc.zst` parse
  *    (Common Crawl's newer compression; zstd-jni ships on Spark's
  *    classpath, continuous mode reads frame-per-record files); gzip
  *    may be one stream or the Common Crawl convention of ONE GZIP
  *    MEMBER PER RECORD (JDK GZIPInputStream reads concatenated
  *    members); `.wet(.gz)` and `.wat(.gz)` sidecar files parse with
  *    the same framing (they ARE WARC — `conversion`/`metadata`
  *    records), and [[readWet]]/[[readText]] surface the text shape a
  *    curation pipeline starts from;
  *  - structural damage — a record not starting `WARC/`, a missing or
  *    non-numeric Content-Length, content cut short by EOF — fails
  *    LOUDLY with the file and record index (house convention: no
  *    silent truncation of a corpus).
  *
  * Write semantics: one `.warc.gz` per partition, one gzip member per
  * record (the CC layout — a CDX-style byte index can then random-access
  * individual records), each file led by a `warcinfo` record. Payloads
  * are written either as bare `resource` records or wrapped in an
  * `application/http; msgtype=response` envelope (`asHttpResponse`),
  * which is the shape crawlers emit. Record ids are deterministic
  * (name-UUID of uri + date + partition:ordinal — the discriminator
  * keeps re-crawled duplicates of one URI globally unique per ISO
  * 28500 §5.2) so a re-run is byte-stable. Each task writes a
  * task-attempt temp file and rename-commits, so speculative or
  * retried attempts can never interleave into a corrupt member.
  *
  * Scale design: parallelism is FILE-granular — a Common Crawl dump is
  * ~64k files of ~1 GiB each, so a 100 TB read fans out across the
  * fleet on file count alone. Single gzipped members are not
  * byte-splittable without an external index, so one task owns one
  * file and STREAM-parses it: memory per task is bounded by the
  * largest single record (its Content-Length), never the file size.
  * Re-balance afterwards with `repartition` if record sizes skew.
  */
object WarcSource {

  /** One parsed WARC record. `http_*` fields are populated only for
    * `application/http` records with a well-formed envelope;
    * `http_headers` carries the envelope's full header map with
    * LOWERCASED names (HTTP header names are case-insensitive), empty
    * for non-HTTP records and malformed envelopes. */
  final case class WarcRecord(
      file: String,
      record_id: String,
      warc_type: String,
      target_uri: String,
      warc_date: String,
      content_type: String,
      content: Array[Byte],
      http_status: Option[Int],
      http_content_type: Option[String],
      http_headers: Map[String, String],
      http_body: Option[Array[Byte]],
      refers_to: String,
      payload_digest: String)

  /** Crawl container extensions this source parses: the WARC family
    * plus Common Crawl's WET (extracted text, `conversion` records)
    * and WAT (metadata) sidecars, each plain / gzip / zstd. */
  private val Extensions = Seq(
    ".warc", ".warc.gz", ".warc.zst",
    ".wet", ".wet.gz", ".wet.zst",
    ".wat", ".wat.gz", ".wat.zst")

  // ----------------------------- read ---------------------------------

  /** Reads every WARC-family file under `path` (or the single file
    * `path` itself) into one record-per-row DataFrame. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val fs = FileSystem.get(java.net.URI.create(path), new Configuration())
    val p = new Path(path)
    val files: Seq[String] =
      if (fs.getFileStatus(p).isFile) Seq(path)
      else fs.listStatus(p).toSeq.filter(_.isFile)
        .filterNot(_.getPath.getName.startsWith("_tmp-")) // dead attempts
        .map(_.getPath.toString)
        .filter(f => Extensions.exists(f.endsWith)).sorted
    if (files.isEmpty)
      throw GraftError.Configuration(
        s"no ${Extensions.mkString("/")} files under $path")
    val rdd = spark.sparkContext
      .parallelize(files, files.size)
      .flatMap(f => parseFile(f))
    spark.createDataset(rdd)(Encoders.product[WarcRecord]).toDF()
  }

  /** The text shape a curation pipeline starts from: one row per
    * content-bearing record with `text` decoded as UTF-8 — a
    * `response` record's envelope body, or a `conversion`/`resource`
    * record's content block. A response whose envelope failed to parse
    * gets NULL text (its bytes are headers+garbage, not a document);
    * `x_robots` surfaces the envelope's `X-Robots-Tag` consent header
    * (NULL when absent) so the consent stage downstream is a pure
    * per-row filter. Pure projection over [[read]] — streams, no
    * shuffle. */
  def readText(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    read(spark, path)
      .filter(col("warc_type").isin("response", "conversion", "resource"))
      .select(
        col("file"), col("record_id"), col("warc_type"),
        col("target_uri"), col("warc_date"), col("http_status"),
        element_at(col("http_headers"), "x-robots-tag").as("x_robots"),
        textCol.as("text"))
  }

  /** THE text-decode rule for a record row — a `response`'s envelope
    * body, else the content block, as UTF-8. One definition shared by
    * [[readText]], [[CdxIndex.resolveRevisits]], and the `cdx-host`
    * CLI verb, so a future charset refinement (e.g. honoring
    * `http_content_type`) lands everywhere at once. */
  def textCol: org.apache.spark.sql.Column =
    when(col("warc_type") === "response",
      decode(col("http_body"), "UTF-8"))
      .otherwise(decode(col("content"), "UTF-8"))

  /** Dedup hints from `revisit` records: Common Crawl marks a
    * re-crawled UNCHANGED page with `WARC-Type: revisit` +
    * `WARC-Refers-To` (the original capture's record id) +
    * `WARC-Payload-Digest` (the crawler's own content hash) instead of
    * shipping the payload again (ISO 28500 §6.7.2). For an incremental
    * pipeline these are FREE exact-dup verdicts — the crawler already
    * content-hashed the fetch, so the re-crawl drops (or resolves to
    * its original via `refers_to`) WITHOUT the pipeline reading or
    * hashing any content. One row per revisit: (file, record_id,
    * target_uri, warc_date, refers_to, payload_digest). [[readText]]
    * never surfaces revisit rows (they carry headers, not documents),
    * so the drop needs no filter stage downstream. Pure projection —
    * streams, no shuffle. */
  def revisitHints(crawl: DataFrame): DataFrame =
    crawl.filter(col("warc_type") === "revisit")
      .select(col("file"), col("record_id"), col("target_uri"),
        col("warc_date"), col("refers_to"), col("payload_digest"))

  /** WET convenience: Common Crawl's extracted-text sidecars are WARC
    * files of `conversion` records whose content IS the page text —
    * the cheapest corpus entry point (no HTML strip needed). One row
    * per document: (file, record_id, target_uri, warc_date, text). */
  def readWet(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    read(spark, path)
      .filter(col("warc_type") === "conversion")
      .select(col("file"), col("record_id"), col("target_uri"),
        col("warc_date"), decode(col("content"), "UTF-8").as("text"))
  }

  /** WAT metadata leg: Common Crawl's `.wat` sidecars are WARC
    * `metadata` records whose JSON payload carries the fetched page's
    * parsed structure — most importantly its OUTLINKS
    * (`Envelope.Payload-Metadata.HTTP-Response-Metadata
    * .HTML-Metadata.Links[].url`), the raw material of the host link
    * graph (PageRank-style quality priors, seed-list expansion, spam
    * neighborhoods). One row per (page, outlink): (file, target_uri,
    * link_url); records without the Links array contribute nothing
    * (`explode` of a NULL array). Pure per-row `from_json` + explode —
    * streams, no shuffle; aggregate to host edges downstream with
    * `parse_url` + groupBy. */
  def readWatLinks(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val schema = org.apache.spark.sql.types.DataType.fromDDL(
      "Envelope STRUCT<`Payload-Metadata`: STRUCT<" +
        "`HTTP-Response-Metadata`: STRUCT<`HTML-Metadata`: STRUCT<" +
        "Links: ARRAY<STRUCT<url: STRING>>>>>>")
    read(spark, path)
      .filter(col("warc_type") === "metadata" &&
        lower(col("content_type")).startsWith("application/json"))
      .select(col("file"), col("target_uri"),
        explode(from_json(decode(col("content"), "UTF-8"),
          schema).getField("Envelope").getField("Payload-Metadata")
          .getField("HTTP-Response-Metadata").getField("HTML-Metadata")
          .getField("Links")).as("link"))
      .select(col("file"), col("target_uri"),
        col("link").getField("url").as("link_url"))
  }

  /** Stream-parses one file; an Iterator so a task never holds more
    * than one record's content. */
  private def parseFile(file: String): Iterator[WarcRecord] = {
    val fs = FileSystem.get(java.net.URI.create(file), new Configuration())
    val raw = fs.open(new Path(file))
    val in: InputStream =
      if (file.endsWith(".gz")) new GZIPInputStream(new BufferedInputStream(raw))
      else if (file.endsWith(".zst")) {
        // continuous mode: a frame-per-record file (the zstd analogue
        // of CC's member-per-record gzip) reads as one stream
        val z = new com.github.luben.zstd.ZstdInputStream(
          new BufferedInputStream(raw))
        z.setContinuous(true)
        z
      }
      else new BufferedInputStream(raw)
    // EOF closes on the happy path (advance → null); the task-end
    // listener covers a damaged record / killed task abandoning the
    // iterator mid-file
    TarSource.closeOnTaskEnd(() => in)
    new Iterator[WarcRecord] {
      private var idx = 0
      private var nextRec: WarcRecord = advance()
      private def advance(): WarcRecord = {
        val line0 = skipBlank(in)
        if (line0 == null) { in.close(); null }
        else {
          val rec = parseRecord(in, line0, file, idx)
          idx += 1
          rec
        }
      }
      override def hasNext: Boolean = nextRec != null
      override def next(): WarcRecord = {
        val r = nextRec; nextRec = advance(); r
      }
    }
  }

  /** Skips inter-record blank lines; returns the first non-blank line
    * or null at EOF. */
  private def skipBlank(in: InputStream): String = {
    var line = readLine(in)
    while (line != null && line.isEmpty) line = readLine(in)
    line
  }

  private def parseRecord(in: InputStream, versionLine: String,
                          file: String, idx: Int): WarcRecord = {
    if (!versionLine.startsWith("WARC/"))
      throw GraftError.Configuration(
        s"$file record $idx: expected a WARC/ version line, got " +
          s"'${versionLine.take(40)}' — not a WARC file or a damaged record")
    val headers = scala.collection.mutable.Map.empty[String, String]
    var line = readLine(in)
    while (line != null && line.nonEmpty) {
      val c = line.indexOf(':')
      if (c > 0)
        headers(line.substring(0, c).trim.toLowerCase) =
          line.substring(c + 1).trim
      line = readLine(in)
    }
    val len = headers.get("content-length") match {
      case Some(v) if v.forall(_.isDigit) && v.nonEmpty => v.toLong
      case other => throw GraftError.Configuration(
        s"$file record $idx: missing or non-numeric Content-Length " +
          s"($other) — cannot frame the content block")
    }
    if (len > Int.MaxValue - 8) throw GraftError.Configuration(
      s"$file record $idx: Content-Length $len exceeds the 2 GiB " +
        "single-record bound")
    val content = new Array[Byte](len.toInt)
    var off = 0
    while (off < content.length) {
      val n = in.read(content, off, content.length - off)
      if (n < 0) throw new EOFException(
        s"$file record $idx: content truncated at $off of $len bytes")
      off += n
    }
    val ctype = headers.getOrElse("content-type", "")
    val (st, hct, hmap, body) =
      if (ctype.toLowerCase.startsWith("application/http"))
        parseHttpEnvelope(content)
      else (None, None, Map.empty[String, String], None)
    WarcRecord(
      file = file,
      record_id = headers.getOrElse("warc-record-id", ""),
      warc_type = headers.getOrElse("warc-type", ""),
      target_uri = headers.getOrElse("warc-target-uri", ""),
      warc_date = headers.getOrElse("warc-date", ""),
      content_type = ctype,
      content = content,
      http_status = st,
      http_content_type = hct,
      http_headers = hmap,
      http_body = body,
      // revisit-record machinery (ISO 28500 §6.7.2): Common Crawl
      // marks a re-fetched unchanged page with WARC-Type: revisit +
      // WARC-Refers-To (the original record's id) + WARC-Payload-Digest
      // (the content hash the CRAWLER already computed) — free exact-dup
      // verdicts for an incremental pipeline. Both headers also appear
      // on regular response records (digest ubiquitously), so they
      // surface unconditionally; empty when absent
      refers_to = headers.getOrElse("warc-refers-to", ""),
      payload_digest = headers.getOrElse("warc-payload-digest", ""))
  }

  /** Splits an HTTP message at its first blank line; the status line
    * and headers are ASCII, the body is opaque bytes (Content-Length
    * inside the envelope is NOT trusted — the WARC frame governs).
    * Returns (status, content-type, full lowercased header map, body);
    * a repeated header folds to a comma-joined value (RFC 9110 §5.2 —
    * `X-Robots-Tag` is commonly emitted once per directive). */
  private[sources] def parseHttpEnvelope(content: Array[Byte])
      : (Option[Int], Option[String], Map[String, String],
         Option[Array[Byte]]) = {
    val none = (None, None, Map.empty[String, String], None)
    val sep = indexOfBlankLine(content)
    if (sep._1 < 0) return none
    val head = new String(content, 0, sep._1, StandardCharsets.ISO_8859_1)
    val body = java.util.Arrays.copyOfRange(content, sep._2, content.length)
    val lines = head.split("\r?\n")
    val status = lines.headOption.map(_.trim) match {
      case Some(s) if s.startsWith("HTTP/") =>
        s.split("\\s+") match {
          case parts if parts.length >= 2 && parts(1).forall(_.isDigit) &&
            parts(1).nonEmpty => Some(parts(1).toInt)
          case _ => None
        }
      case _ => None
    }
    if (status.isEmpty) return none
    var hmap = Map.empty[String, String]
    lines.drop(1).foreach { l =>
      val c = l.indexOf(':')
      if (c > 0) {
        val k = l.substring(0, c).trim.toLowerCase
        val v = l.substring(c + 1).trim
        hmap += (k -> hmap.get(k).map(_ + ", " + v).getOrElse(v))
      }
    }
    (status, hmap.get("content-type"), hmap, Some(body))
  }

  /** Byte offset of the first `\r\n\r\n` (or lone `\n\n`): returns
    * (headEnd, bodyStart), or (-1, -1) when none exists. */
  private def indexOfBlankLine(b: Array[Byte]): (Int, Int) = {
    var i = 0
    while (i + 1 < b.length) {
      if (b(i) == '\n' && b(i + 1) == '\n') return (i, i + 2)
      if (i + 3 < b.length && b(i) == '\r' && b(i + 1) == '\n' &&
        b(i + 2) == '\r' && b(i + 3) == '\n') return (i, i + 4)
      i += 1
    }
    (-1, -1)
  }

  /** [[CdxIndex.fetch]] hooks: the ranged-read path re-enters the
    * record parser on a single gunzipped member. */
  private[sources] def readHeaderLine(in: InputStream): String = readLine(in)
  private[sources] def parseOne(in: InputStream, versionLine: String,
                                where: String): WarcRecord =
    parseRecord(in, versionLine, where, 0)

  /** Reads one header line: bytes to `\n`, dropping a trailing `\r`
    * (the spec mandates CRLF; bare-LF files in the wild still parse).
    * Returns null at EOF with nothing read. */
  private def readLine(in: InputStream): String = {
    val buf = new ByteArrayOutputStream(96)
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') { buf.write(c); c = in.read() }
    val bytes = buf.toByteArray
    val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r')
      bytes.length - 1 else bytes.length
    new String(bytes, 0, n, StandardCharsets.ISO_8859_1)
  }

  // ----------------------------- write --------------------------------

  /** Writes `(uriCol, payloadCol)` rows as one `.warc.gz` per
    * partition (one gzip member per record, warcinfo-led). Payload may
    * be binary or string (UTF-8 encoded). Returns records written
    * (excluding warcinfo records). */
  /** `recordType` names the record type of non-HTTP payloads —
    * `resource` (default) or `conversion` (the WET extracted-text
    * shape [[readWet]] reads back). `cdxIndex = true` additionally
    * writes one `part-N.cdx` sidecar per shard ([[CdxIndex]]):
    * SURT-sorted `surt\toffset\tlength\turi` lines addressing each
    * gzip member, so single records are point-fetchable without a
    * shard scan — plus a tiny `part-N.cdx.bounds` file carrying the
    * sidecar's `first\tlast` SURT keys (the task just sorted them, so
    * the bounds are free at write), which lets a prefix/host lookup
    * skip whole sidecars UNOPENED ([[CdxIndex.lookupPrefix]]): at
    * Common Crawl scale (~64k sidecars) the full sidecar scan was the
    * fixed cost of every host lookup. */
  def write(df: DataFrame, path: String, uriCol: String, payloadCol: String,
            warcDate: String = "2024-01-01T00:00:00Z",
            asHttpResponse: Boolean = true,
            httpContentType: String = "text/plain; charset=utf-8",
            overwrite: Boolean = true,
            extraHttpHeadersCol: String = null,
            recordType: String = "resource",
            cdxIndex: Boolean = false): Long = {
    val fs = FileSystem.get(java.net.URI.create(path), new Configuration())
    val out = new Path(path)
    if (overwrite && fs.exists(out)) fs.delete(out, true)
    fs.mkdirs(out)
    val payloadIsBinary = df.schema(payloadCol).dataType ==
      org.apache.spark.sql.types.BinaryType
    // optional extra envelope headers, one string column of
    // "Name: value" lines (CRLF- or LF-joined): how a crawler emits
    // X-Robots-Tag and friends; NULL/empty rows add nothing
    val extras =
      if (extraHttpHeadersCol == null) lit("")
      else coalesce(col(extraHttpHeadersCol).cast("string"), lit(""))
    val slim = df.select(
      col(uriCol).cast("string").as("uri"),
      (if (payloadIsBinary) col(payloadCol)
       else encode(col(payloadCol).cast("string"), "UTF-8")).as("payload"),
      extras.as("extra_headers"))
    // foreachPartition, not .rdd: a DataFrame ACTION runs under a SQL
    // execution id, so upstream `observe` nodes (curation stage counts)
    // fire; record counts ride an accumulator (exactly-once per
    // successful task for actions). Same contract as TarSource.write.
    val counter = df.sparkSession.sparkContext.longAccumulator("warc_records")
    slim.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val idx = org.apache.spark.TaskContext.getPartitionId()
        val pfs = FileSystem.get(java.net.URI.create(path), new Configuration())
        // task-attempt temp + rename commit (shared with TarSource): a
        // speculative/retried attempt must never interleave bytes into
        // the final file
        val target = new Path(path, f"part-$idx%05d.warc.gz")
        val tmp = new Path(path,
          f"_tmp-part-$idx%05d-attempt-${TarSource.taskAttemptId()}.warc.gz")
        val stream = pfs.create(tmp, true)
        var n = 0L
        var pos = 0L
        // (surt, offset, length, uri) per member — bounded by the
        // shard's record count, sorted by SURT before the sidecar
        // lands so host-scoped lookups are contiguous range scans
        val cdxLines =
          if (cdxIndex) new scala.collection.mutable.ArrayBuffer[
            (String, Long, Long, String)]()
          else null
        try {
          val info = gzipMember(warcinfoRecord(warcDate, s"part$idx"))
          stream.write(info)
          pos += info.length
          rows.foreach { r =>
            val uri = r.getString(0)
            val payload = r.getAs[Array[Byte]](1)
            val block =
              if (asHttpResponse)
                httpResponseBlock(payload, httpContentType, r.getString(2))
              else payload
            val member = gzipMember(recordBytes(
              if (asHttpResponse) "response" else recordType, uri, warcDate,
              if (asHttpResponse) "application/http; msgtype=response"
              else httpContentType,
              block,
              // partition + ordinal discriminator: ISO 28500 requires
              // GLOBALLY unique record ids, and a batch that re-crawls
              // one URI twice would otherwise mint twins; deterministic
              // under a fixed partitioning, so re-runs stay byte-stable
              discriminator = s"$idx:$n"))
            if (cdxIndex) {
              if (uri != null && (uri.indexOf('\t') >= 0 ||
                  uri.indexOf('\n') >= 0))
                throw GraftError.DataTransfer(
                  s"URI contains a tab/newline and cannot be CDX-indexed" +
                    s": '${uri.take(60)}'")
              cdxLines += ((CdxIndex.surtKey(uri), pos,
                member.length.toLong, uri))
            }
            stream.write(member)
            pos += member.length
            n += 1
          }
        } finally stream.close()
        TarSource.commitTemp(pfs, tmp, target)
        if (cdxIndex) {
          val cdxTarget = new Path(path, f"part-$idx%05d.cdx")
          val cdxTmp = new Path(path,
            f"_tmp-part-$idx%05d-attempt-${TarSource.taskAttemptId()}.cdx")
          val sorted = cdxLines.sortBy(l => (l._1, l._2))
          val cs = pfs.create(cdxTmp, true)
          try sorted.foreach { case (k, o, l, u) =>
            cs.write(s"$k\t$o\t$l\t$u\n".getBytes(StandardCharsets.UTF_8))
          } finally cs.close()
          TarSource.commitTemp(pfs, cdxTmp, cdxTarget)
          // (first, last) SURT bounds sidecar — free here (the lines
          // are already sorted), and lets lookupPrefix skip this whole
          // sidecar unopened when the prefix cannot intersect
          if (sorted.nonEmpty) {
            val bTarget = new Path(path, f"part-$idx%05d.cdx.bounds")
            val bTmp = new Path(path,
              f"_tmp-part-$idx%05d-attempt-${TarSource.taskAttemptId()}" +
                ".cdx.bounds")
            val bs = pfs.create(bTmp, true)
            try bs.write(s"${sorted.head._1}\t${sorted.last._1}\n"
              .getBytes(StandardCharsets.UTF_8))
            finally bs.close()
            TarSource.commitTemp(pfs, bTmp, bTarget)
          }
        }
        counter.add(n)
      }
    }
    counter.value
  }

  /** One record as one finished gzip member (the CC convention).
    * Compressing to a buffer lets close() run, which ends the native
    * Deflater immediately (the DeflateStats lesson: native memory must
    * not wait for GC); scratch is bounded by one record's size. */
  private def gzipMember(record: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(record.length / 2 + 64)
    val gz = new GZIPOutputStream(bos, 8192)
    gz.write(record)
    gz.close()
    bos.toByteArray
  }

  private def httpResponseBlock(body: Array[Byte], contentType: String,
                                extraHeaders: String): Array[Byte] = {
    val extra =
      if (extraHeaders.isEmpty) ""
      else extraHeaders.split("\r?\n").filter(_.nonEmpty)
        .mkString("", "\r\n", "\r\n")
    val head = ("HTTP/1.1 200 OK\r\n" +
      s"Content-Type: $contentType\r\n" + extra +
      s"Content-Length: ${body.length}\r\n\r\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    val b = new Array[Byte](head.length + body.length)
    System.arraycopy(head, 0, b, 0, head.length)
    System.arraycopy(body, 0, b, head.length, body.length)
    b
  }

  private def warcinfoRecord(date: String,
                             discriminator: String): Array[Byte] = {
    val body = ("software: graft\r\nformat: WARC File Format 1.0\r\n")
      .getBytes(StandardCharsets.UTF_8)
    recordBytes("warcinfo", uri = null, date,
      "application/warc-fields", body, discriminator)
  }

  private def recordBytes(warcType: String, uri: String, date: String,
                          contentType: String, content: Array[Byte],
                          discriminator: String): Array[Byte] = {
    val id = java.util.UUID.nameUUIDFromBytes(
      (warcType + "|" + Option(uri).getOrElse("") + "|" + date + "|" +
        discriminator).getBytes(StandardCharsets.UTF_8))
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append(s"WARC-Type: $warcType\r\n")
    sb.append(s"WARC-Record-ID: <urn:uuid:$id>\r\n")
    sb.append(s"WARC-Date: $date\r\n")
    if (uri != null) sb.append(s"WARC-Target-URI: $uri\r\n")
    sb.append(s"Content-Type: $contentType\r\n")
    sb.append(s"Content-Length: ${content.length}\r\n")
    sb.append("\r\n")
    val head = sb.toString.getBytes(StandardCharsets.ISO_8859_1)
    val trailer = "\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1)
    val b = new Array[Byte](head.length + content.length + trailer.length)
    System.arraycopy(head, 0, b, 0, head.length)
    System.arraycopy(content, 0, b, head.length, content.length)
    System.arraycopy(trailer, 0, b, head.length + content.length,
      trailer.length)
    b
  }
}
