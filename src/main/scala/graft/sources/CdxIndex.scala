package graft.sources

import java.io.ByteArrayInputStream
import java.util.zip.GZIPInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftError

/** CDX byte-range index over WARC shards — the lookup layer that makes
  * a 100 TB archive point-addressable: member-per-record gzip (the
  * [[WarcSource]] write layout) means any single record is one
  * `seek(offset); read(length)` away, and the CDX sidecar carries
  * exactly those (offset, length) pairs per URI. This is the Common
  * Crawl access pattern (their cluster.idx/cdx-*.gz serve the same
  * role); the format here is a documented simple subset — one
  * tab-separated line per record, `surt \t offset \t length \t uri`,
  * sorted by SURT key within each shard's sidecar (`part-N.cdx`).
  *
  * SURT (Sort-friendly URI Reordering Transform) keys — reversed-host
  * `com,example)/path` form, lowercased, default ports and
  * `www.`-prefix dropped — make one host's records (and one
  * registrable domain's subdomains) sort ADJACENTLY, so a host-scoped
  * lookup over a sharded index is a contiguous range scan, not a
  * scatter. The transform is string-only and SQL-replayable.
  *
  * Scale design: the index rides the write (offsets accumulate as the
  * members stream out — no second pass); one shard's line buffer is
  * bounded by its record count (a ~1 GiB shard ≈ tens of thousands of
  * lines). Lookups read ONLY the sidecars (tiny) plus one ranged read
  * per hit, sorted by (file, offset) within each task for
  * sequential-friendly I/O — never a shard scan. */
object CdxIndex {

  final case class CdxEntry(file: String, surt: String, uri: String,
                            offset: Long, length: Long)

  /** SURT key: `scheme://user@Host:Port/Path?Query` →
    * `reversed,host)/path?query` — lowercased host, reversed on dots,
    * leading `www.` dropped, default ports (80/443) dropped,
    * userinfo/scheme/fragment dropped. Non-URL strings key as
    * themselves lowercased (never throw in an index path). A string is
    * only host-reversed when the text before `://` is a VALID scheme
    * (`[A-Za-z][A-Za-z0-9+.-]*`) — the same gate [[surtCol]] applies,
    * so the Scala writer and the SQL-replayable spelling emit the SAME
    * key for malformed inputs like `not a url://x`. */
  def surtKey(uri: String): String = {
    if (uri == null) return ""
    val noFrag = {
      val h = uri.indexOf('#')
      if (h < 0) uri else uri.substring(0, h)
    }
    val schemeEnd = noFrag.indexOf("://")
    if (schemeEnd <= 0 || !validScheme(noFrag, schemeEnd))
      return noFrag.toLowerCase
    val rest = noFrag.substring(schemeEnd + 3)
    val slash = rest.indexOf('/')
    val (auth0, path) =
      if (slash < 0) (rest, "/") else (rest.substring(0, slash),
        rest.substring(slash))
    val auth = {
      val at = auth0.lastIndexOf('@')
      if (at < 0) auth0 else auth0.substring(at + 1)
    }
    val colon = auth.indexOf(':')
    val (host0, port) =
      if (colon < 0) (auth, "") else (auth.substring(0, colon),
        auth.substring(colon + 1))
    val host1 = host0.toLowerCase
    val host = if (host1.startsWith("www.")) host1.substring(4) else host1
    val reversed = host.split('.').reverse.mkString(",")
    val portPart =
      if (port.isEmpty || port == "80" || port == "443") ""
      else s":$port"
    s"$reversed$portPart)${path.toLowerCase}"
  }

  /** `s[0, end)` is a valid URI scheme: ASCII letter head, then
    * letters/digits/`+.-` (RFC 3986 §3.1 — what surtCol's regex
    * requires). */
  private def validScheme(s: String, end: Int): Boolean = {
    val c0 = s.charAt(0)
    if (!((c0 >= 'a' && c0 <= 'z') || (c0 >= 'A' && c0 <= 'Z'))) return false
    var i = 1
    while (i < end) {
      val c = s.charAt(i)
      val ok = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'
      if (!ok) return false
      i += 1
    }
    true
  }

  /** The SURT transform as a Column (same semantics as [[surtKey]],
    * spelled in builtins so the oracle replays it verbatim). */
  def surtCol(uri: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val noFrag = split(uri, "#").getItem(0)
    val rest = regexp_replace(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    val auth0 = split(rest, "/").getItem(0)
    val auth = element_at(split(auth0, "@"), -1)
    val host0 = lower(split(auth, ":").getItem(0))
    val port = when(auth.contains(":"), split(auth, ":").getItem(1))
      .otherwise(lit(""))
    val host = regexp_replace(host0, "^www\\.", "")
    val reversed = array_join(reverse(split(host, "\\.")), ",")
    val portPart = when(port.isin("", "80", "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val path = lower(when(rest.contains("/"),
      regexp_replace(rest, "^[^/]*", "")).otherwise(lit("/")))
    when(noFrag.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"),
      concat(reversed, portPart, lit(")"), path))
      .otherwise(lower(noFrag))
  }

  /** Reads every `part-*.cdx` sidecar under `path` into one
    * DataFrame of [[CdxEntry]] rows ("file" = the WARC shard the
    * offsets address). */
  def read(spark: SparkSession, path: String): DataFrame =
    read(spark, Seq(path))

  /** Multi-archive form (round-18): a week of daily crawls is N
    * separate archive directories, each with its own sidecar set — a
    * lookup over the whole window is the UNION of the sidecar lists
    * (entry `file` paths are absolute, so [[fetch]] needs no change,
    * and bounds pruning composes per-sidecar). Every lookup verb has a
    * `Seq[String]` overload riding on this. */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val sidecars = listSidecarsMulti(paths)
    val rdd = spark.sparkContext.parallelize(sidecars, sidecars.size)
      .flatMap(f => sidecarEntries(f))
    spark.createDataset(rdd)(Encoders.product[CdxEntry]).toDF()
  }

  /** Union of per-archive sidecar lists, order-stable (archives in the
    * order given, sidecars sorted within each). Loud per archive when
    * one has no index — a silent empty union would "resolve" every
    * lookup to zero rows. */
  private def listSidecarsMulti(paths: Seq[String]): Seq[String] = {
    if (paths.isEmpty)
      throw GraftError.Configuration("no archive paths given")
    paths.flatMap(listSidecars)
  }

  private def listSidecars(path: String): Seq[String] = {
    val fs = FileSystem.get(java.net.URI.create(path), new Configuration())
    val p = new Path(path)
    val sidecars =
      if (fs.getFileStatus(p).isFile) Seq(path)
      else fs.listStatus(p).toSeq.filter(_.isFile)
        .map(_.getPath.toString).filter(_.endsWith(".cdx")).sorted
    if (sidecars.isEmpty)
      throw GraftError.Configuration(s"no .cdx sidecars under $path " +
        "(write the archive with WarcSource.write(cdxIndex = true))")
    sidecars
  }

  /** Parses one sidecar's lines; shared by the full scan and the
    * bounds-pruned prefix scan. */
  private def sidecarEntries(f: String): Vector[CdxEntry] = {
    val cfs = FileSystem.get(java.net.URI.create(f), new Configuration())
    val in = cfs.open(new Path(f))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toVector
      finally in.close()
    val warcFile = f.stripSuffix(".cdx") + ".warc.gz"
    lines.zipWithIndex.map { case (line, i) =>
      line.split('\t') match {
        case Array(surt, off, len, uri) =>
          CdxEntry(warcFile, surt, uri, off.toLong, len.toLong)
        case _ => throw GraftError.DataTransfer(
          s"$f line ${i + 1}: malformed CDX line " +
            s"'${line.take(60)}' (expected surt\\toffset\\tlength\\turi)")
      }
    }
  }

  /** True when a sidecar whose SURT keys span `[first, last]` may
    * contain a key starting with `prefix`: the prefix block is the
    * interval `[prefix, prefix∞)`, so the sidecar is skippable exactly
    * when its last key sorts before the prefix, or its first key sorts
    * after every prefix-headed string (first > prefix without CARRYING
    * the prefix — a first that extends the prefix is inside the
    * block). Pure, unit-tested directly. */
  private[sources] def boundsMayContain(first: String, last: String,
                                        prefix: String): Boolean =
    last >= prefix && (first <= prefix || first.startsWith(prefix))

  /** The bounds-pruned sidecar scan behind [[lookupPrefix]]: each task
    * reads its sidecar's tiny `.cdx.bounds` file (first\tlast SURT
    * keys, committed at write time from the already-sorted lines) and
    * SKIPS the sidecar — never opens it — when the prefix block cannot
    * intersect. A sidecar without a bounds file (a pre-bounds archive)
    * scans as before; a malformed bounds line is LOUD (silently
    * scanning would mask a write-path bug, silently skipping would
    * drop records). The prefix filter also runs task-side so
    * non-matching rows never ship. */
  private def readPrefix(spark: SparkSession, paths: Seq[String],
                         prefix: String): DataFrame = {
    val sidecars = listSidecarsMulti(paths)
    val rdd = spark.sparkContext.parallelize(sidecars, sidecars.size)
      .flatMap { f =>
        val cfs = FileSystem.get(java.net.URI.create(f), new Configuration())
        val b = new Path(f + ".bounds")
        val scan =
          if (!cfs.exists(b)) true
          else {
            val in = cfs.open(b)
            val line =
              try scala.io.Source.fromInputStream(in, "UTF-8")
                .getLines().toSeq.headOption
              finally in.close()
            line.map(_.split('\t')) match {
              case Some(Array(first, last)) =>
                boundsMayContain(first, last, prefix)
              case _ => throw GraftError.DataTransfer(
                s"$f.bounds: malformed bounds line " +
                  s"'${line.getOrElse("<empty file>").take(60)}' " +
                  "(expected first\\tlast SURT keys)")
            }
          }
        if (scan) sidecarEntries(f).filter(_.surt.startsWith(prefix))
        else Vector.empty
      }
    spark.createDataset(rdd)(Encoders.product[CdxEntry]).toDF()
  }

  /** Point-fetches the records a CDX frame addresses: one ranged read
    * per row (`seek(offset)`, `read(length)`, gunzip the member,
    * parse). Hits are RANGE-partitioned on (file, offset) — contiguous
    * offset runs per task for sequential-friendly I/O, AND one big
    * shard's hits split across tasks (ranged reads need no exclusive
    * handle; hashing by file alone serialized a 2-file archive onto 2
    * cores — the 100× ramp caught exactly that). Returns the full
    * [[WarcSource.WarcRecord]] shape. */
  def fetch(cdx: DataFrame): DataFrame = {
    val spark = cdx.sparkSession
    val slim = cdx.select(col("file").cast("string"),
      col("offset").cast("long"), col("length").cast("long"))
    val rdd = slim.repartitionByRange(col("file"), col("offset"))
      .rdd.mapPartitions { rows =>
      val sorted = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toVector.sortBy(t => (t._1, t._2))
      var curFile: String = null
      var in: org.apache.hadoop.fs.FSDataInputStream = null
      // a parse error or task kill abandons the iterator mid-walk: the
      // listener closes whatever handle is CURRENT at task end (the
      // thunk re-reads the var), so no leak survives the task
      TarSource.closeOnTaskEnd(() => in)
      val out = sorted.iterator.map { case (file, offset, length) =>
        if (file != curFile) {
          if (in != null) in.close()
          val fs = FileSystem.get(java.net.URI.create(file),
            new Configuration())
          in = fs.open(new Path(file))
          curFile = file
        }
        if (length > Int.MaxValue - 8)
          throw GraftError.DataTransfer(
            s"$file@$offset: member length $length exceeds the 2 GiB " +
              "single-record bound")
        in.seek(offset)
        val member = new Array[Byte](length.toInt)
        in.readFully(member)
        val gz = new GZIPInputStream(new ByteArrayInputStream(member))
        // close IMMEDIATELY after the parse: each member owns a native
        // zlib Inflater, and leaving 500k of them per fetch job to the
        // Cleaner measurably degrades every later same-JVM job (the
        // DeflateStats lesson — native memory must not wait for GC;
        // the r16 CdxProbe measured fetch reps at 26→61 s from this)
        try {
          val version = WarcSource.readHeaderLine(gz)
          if (version == null)
            throw GraftError.DataTransfer(
              s"$file@$offset: empty gzip member under the CDX entry")
          WarcSource.parseOne(gz, version, s"$file@$offset")
        } finally gz.close()
      }
      // close the last handle when the iterator drains
      new Iterator[WarcSource.WarcRecord] {
        override def hasNext: Boolean = {
          val h = out.hasNext
          if (!h && in != null) { in.close(); in = null }
          h
        }
        override def next(): WarcSource.WarcRecord = out.next()
      }
    }
    spark.createDataset(rdd)(
      Encoders.product[WarcSource.WarcRecord]).toDF()
  }

  /** Row bound under which a lookup/hint frame broadcasts; above it
    * the joins fall back to shuffled equi-joins (AQE picks the
    * physical strategy). 1M URI rows ≈ tens of MB — comfortably inside
    * the driver/broadcast budget; a crawl-scale revisit set (a large
    * fraction of the whole crawl) is orders beyond it and would OOM
    * the driver or trip the 8 GB broadcast ceiling (r17 What's-wrong
    * #2). Overridable per-session via `graft.cdx.broadcastRowBound`
    * (how the units pin BOTH join shapes without building 1M rows). */
  private[sources] val BroadcastRowBoundDefault = 1000000L

  private def broadcastRowBound(spark: SparkSession): Long =
    try spark.conf.get("graft.cdx.broadcastRowBound",
      BroadcastRowBoundDefault.toString).toLong
    catch { case _: NumberFormatException => BroadcastRowBoundDefault }

  /** Index-driven lookup: CDX scan → URI filter → ranged fetches.
    * `uris` is any frame with a `uri` column. A lookup set is USUALLY
    * small — those broadcast onto the sidecar scan — but the revisit
    * path feeds crawl-scale frames through here, so the shape is
    * size-guarded: the deduped URI set is localCheckpointed (it is
    * consumed twice — count + join — and upstream is often a WARC
    * scan worth not re-running), counted, and only broadcast under
    * [[BroadcastRowBoundDefault]]; above the bound the filter is a
    * plain shuffled equi-join with no driver-side ceiling. */
  def lookup(spark: SparkSession, path: String, uris: DataFrame): DataFrame =
    lookup(spark, Seq(path), uris)

  def lookup(spark: SparkSession, paths: Seq[String],
             uris: DataFrame): DataFrame = {
    val slim = uris.select(col("uri")).distinct().localCheckpoint(true)
    fetch(read(spark, paths).join(
      if (slim.count() <= broadcastRowBound(spark)) broadcast(slim)
      else slim,
      Seq("uri")))
  }

  /** SURT-prefix range lookup: every record whose SURT key starts with
    * `surtPrefix`, point-fetched. This is the scan the SURT sort order
    * was BUILT for — one host's records (and one registrable domain's
    * subdomains, under the reversed-host form) sort ADJACENTLY, so
    * "fetch everything from example.com" prunes each sidecar to one
    * contiguous run instead of scattering. Sidecars whose committed
    * `.cdx.bounds` range cannot intersect the prefix block are skipped
    * UNOPENED ([[readPrefix]]) — at Common Crawl scale (~64k sidecars)
    * the full sidecar scan was the fixed cost of every host lookup,
    * and a single host touches a handful of shards. */
  def lookupPrefix(spark: SparkSession, path: String,
                   surtPrefix: String): DataFrame =
    lookupPrefix(spark, Seq(path), surtPrefix)

  def lookupPrefix(spark: SparkSession, paths: Seq[String],
                   surtPrefix: String): DataFrame =
    fetch(readPrefix(spark, paths, surtPrefix))

  /** Host convenience over [[lookupPrefix]]: everything archived for
    * `host` itself (default ports). The closing paren scopes the match
    * — `example.com` keys as `com,example)…`, a lookalike
    * `example2.com` as `com,example2)…`, and a subdomain as
    * `com,example,sub)…` — so neither matches; for a domain-wide scan
    * including subdomains pass `"com,example"` to [[lookupPrefix]]
    * directly (accepting the documented lookalike risk) . The leading
    * `www.` drop mirrors the write-side transform. */
  def lookupHost(spark: SparkSession, path: String,
                 host: String): DataFrame =
    lookupHost(spark, Seq(path), host)

  def lookupHost(spark: SparkSession, paths: Seq[String],
                 host: String): DataFrame = {
    val h0 = host.toLowerCase
    val h = if (h0.startsWith("www.")) h0.substring(4) else h0
    lookupPrefix(spark, paths, h.split('.').reverse.mkString(",") + ")")
  }

  /** Resolves `revisit` records to their ORIGINAL captures' text — the
    * other half of the revisit machinery: [[WarcSource.revisitHints]]
    * DROPS a revisit-marked re-crawl without hashing a byte, and this
    * join recovers the content the crawler said it re-fetched, via the
    * original archive's CDX index (a size-guarded URI join + ranged
    * point fetches — no shard scan, no re-hash).
    *
    * `hints` is the revisitHints frame of the NEW crawl; `archivePath`
    * the ORIGINAL archive (written with `cdxIndex = true`). Fetching
    * goes by target URI (what the CDX keys); the join back then PINS
    * on `refers_to` = the original's WARC-Record-ID, so a URI captured
    * twice in the original archive resolves to exactly the record the
    * crawler named, not an arbitrary twin. One row per RESOLVED
    * revisit: (revisit_record_id, target_uri, revisit_date, refers_to,
    * payload_digest, original_date, text) — text decodes like
    * [[WarcSource.readText]] (response body, else content block).
    * Revisits whose referenced record is absent from the archive drop
    * (inner join); diff the row counts to audit dangling pointers. */
  def resolveRevisits(spark: SparkSession, archivePath: String,
                      hints: DataFrame): DataFrame =
    resolveRevisits(spark, Seq(archivePath), hints)

  /** Multi-archive + scale-guarded form (round-18, closes r17
    * What's-wrong #2): a real re-crawl's revisit volume is a large
    * FRACTION of the crawl, not a lookup set — forced broadcasts of
    * the hints frame would OOM the driver or trip the 8 GB broadcast
    * ceiling. The hints frame is localCheckpointed once (it feeds
    * both the URI filter and the join back, and its upstream is a
    * WARC scan worth not re-running), counted, and both joins
    * broadcast only under the row bound
    * ([[BroadcastRowBoundDefault]]); above it they run as plain
    * shuffled equi-joins on `uri`/`refers_to` (AQE-decided physical
    * strategy, no driver-side ceiling). Same results either way —
    * both joins are equi-joins. Several day archives compose: the
    * sidecar union rides [[read]]'s multi-path form, and `refers_to`
    * pinning keeps resolution exact even when a URI recurs across
    * days. */
  def resolveRevisits(spark: SparkSession, archivePaths: Seq[String],
                      hints: DataFrame): DataFrame = {
    val h = hints.select(
      col("record_id").as("revisit_record_id"),
      col("target_uri").as("uri"),
      col("warc_date").as("revisit_date"),
      col("refers_to"), col("payload_digest"))
      .localCheckpoint(true)
    val small = h.count() <= broadcastRowBound(spark)
    val originals = lookup(spark, archivePaths, h.select(col("uri")))
    originals.select(
        col("record_id").as("refers_to"),
        col("warc_date").as("original_date"),
        WarcSource.textCol.as("text"))
      .join(if (small) broadcast(h) else h, Seq("refers_to"))
      .select(col("revisit_record_id"), col("uri").as("target_uri"),
        col("revisit_date"), col("refers_to"), col("payload_digest"),
        col("original_date"), col("text"))
  }
}
