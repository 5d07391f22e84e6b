package graft.sources

import graft.infer.CellInference

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}

/** URI → reader/writer routing (S14/T11,
  * `/root/reference/src/connectors/mod.rs:67-239`,
  * `src/protocols/mod.rs:52-100`).
  *
  * Supported forms:
  *  - `path.csv` / `.json` / `.parquet` / `.avro` / `.orc` (extension routing)
  *  - `sqlite:file.db#table`, `file.db#table`
  *  - `duckdb:file.duckdb#table`, `file.duckdb#table`
  *  - `postgres://u:p@host:5432/db#table` (also `postgresql://`)
  *  - `mysql://…#table`, `mssql://…#table` / `sqlserver://…#table`,
  *    `odbc://dsn#table`
  *  - `http(s)://…` — downloaded to a local temp file, then routed by
  *    extension (S11, protocols/http.rs) — Hadoop FS can't stream
  *    arbitrary auth'd HTTP, so the download-then-read pattern stays
  *  - `ssh://user@host/path` — fetched via `scp` subprocess (S12)
  *
  * JDBC reads prefer `partitionColumn` when a PK-ish column is supplied
  * (the reference's keyset-pagination heuristic, odbc.rs:196-203) so the
  * scan parallelizes instead of the reference's O(n²) OFFSET paging.
  */
object Connectors {

  final case class Ref(
      kind: String,                    // csv|json|parquet|avro|orc|jdbc|http|ssh
      path: String,                    // file path, or JDBC url
      table: Option[String] = None,
      options: Map[String, String] = Map.empty)

  final case class UnsupportedUri(uri: String, supported: String)
      extends IllegalArgumentException(
        s"unsupported connector uri '$uri'; supported: $supported")

  private val Supported =
    "csv, json, parquet, avro, orc, sqlite:, duckdb:, postgres://, mysql://, " +
      "mssql://, sqlserver://, odbc://, http(s)://, ssh://"

  /** `target#table` fragment, else file stem, else "data"
    * (T12, transfer.rs:370-381). */
  def tableName(uri: String): String = {
    val frag = uri.split('#')
    if (frag.length > 1 && frag.last.nonEmpty) frag.last
    else frag.headOption
      .map(_.split('/').last).filter(_.nonEmpty)
      .map(_.split('.').head).filter(_.nonEmpty)
      .getOrElse("data")
  }

  def parse(uri: String, options: Map[String, String] = Map.empty): Ref = {
    val (body, frag) = uri.split('#') match {
      case Array(b)    => (b, None)
      case Array(b, f) => (b, Some(f))
      case parts       => (parts.head, Some(parts.last))
    }
    val lower = body.toLowerCase
    def jdbc(url: String) = Ref("jdbc", url, frag, options)
    lower match {
      case u if u.startsWith("jdbc:") =>
        // raw JDBC URLs pass through for any driver on the classpath
        // (e.g. the Derby engine Spark ships for its Hive metastore)
        jdbc(body)
      case u if u.startsWith("http://") || u.startsWith("https://") =>
        Ref("http", body, frag, options)
      case u if u.startsWith("ssh://") => Ref("ssh", body, frag, options)
      case u if u.startsWith("sqlite:") =>
        // README's sqlite:///abs/path form: collapse the authority
        // slashes so the driver sees a plain absolute path
        val p = body.stripPrefix("sqlite:")
        jdbc(s"jdbc:sqlite:${if (p.startsWith("//")) p.drop(2) else p}")
      case u if u.startsWith("duckdb:") =>
        jdbc(s"jdbc:duckdb:${body.stripPrefix("duckdb:")}")
      case u if u.startsWith("postgres://") || u.startsWith("postgresql://") =>
        jdbc("jdbc:postgresql://" + body.substring(body.indexOf("://") + 3))
      case u if u.startsWith("mysql://") =>
        jdbc("jdbc:mysql://" + body.substring(body.indexOf("://") + 3))
      case u if u.startsWith("mssql://") || u.startsWith("sqlserver://") =>
        jdbc("jdbc:sqlserver://" + body.substring(body.indexOf("://") + 3))
      case u if u.startsWith("odbc://") =>
        // an odbc DSN is not a JDBC URL; passing it through would fail
        // deep inside the driver with an opaque message (odbc.rs is a
        // native-ODBC path with no JDBC equivalent in this environment)
        throw graft.core.GraftError.Configuration(
          s"odbc:// sources are not supported by the Spark engine (uri '$uri'); " +
            "use the database's native scheme instead " +
            "(postgres://, mysql://, mssql://, sqlite:, duckdb:)")
      case u if u.endsWith(".csv")     => Ref("csv", body, frag, options)
      case u if u.endsWith(".json")    => Ref("json", body, frag, options)
      case u if u.endsWith(".parquet") => Ref("parquet", body, frag, options)
      case u if u.endsWith(".avro")    => Ref("avro", body, frag, options)
      case u if u.endsWith(".orc")     => Ref("orc", body, frag, options)
      case u if u.endsWith(".warc") || u.endsWith(".warc.gz") ||
          u.endsWith(".warc.zst") || u.endsWith(".wet") ||
          u.endsWith(".wet.gz") || u.endsWith(".wet.zst") ||
          u.endsWith(".wat") || u.endsWith(".wat.gz") ||
          u.endsWith(".wat.zst") =>
        Ref("warc", body, frag, options)
      case u if u.endsWith(".tar") || u.endsWith(".tar.gz") =>
        Ref("tar", body, frag, options)
      case u if u.endsWith(".pdf") => Ref("pdf", body, frag, options)
      case u if u.endsWith(".zip") => Ref("zip", body, frag, options)
      case u if u.endsWith(".jsonl") || u.endsWith(".jsonl.gz") ||
          u.endsWith(".jsonl.zst") =>
        Ref("jsonl", body, frag, options)
      case u if u.endsWith(".db")      => jdbc(s"jdbc:sqlite:$body")
      case u if u.endsWith(".duckdb")  => jdbc(s"jdbc:duckdb:$body")
      case _ =>
        // --source-type forces the format for extension-less local
        // paths (cli.rs --source-type; http already honors it); an
        // unrecognized value is ITS OWN loud error, not a misleading
        // unsupported-uri message
        options.get("sourceType") match {
          case Some(t) => t.toLowerCase match {
            // warc/tar cover the DIRECTORY-of-shards case the
            // extension dispatch can't see (a crawl dump or a
            // WebDataset shard dir has no suffix of its own)
            case n @ ("csv" | "json" | "parquet" | "avro" | "orc" |
                      "warc" | "tar" | "pdf" | "zip" | "jsonl") =>
              Ref(n, body, frag, options)
            case _ => throw graft.core.GraftError.Configuration(
              s"unsupported sourceType '$t' for uri '$uri' " +
                "(expected csv|json|parquet|avro|orc|warc|tar|pdf|zip|jsonl)")
          }
          case None => throw UnsupportedUri(uri, Supported)
        }
    }
  }

  // ----------------------------- read ---------------------------------

  def read(spark: SparkSession, uri: String,
           options: Map[String, String] = Map.empty): DataFrame =
    readRef(spark, parse(uri, options))

  private def readRef(spark: SparkSession, ref: Ref): DataFrame = ref.kind match {
    case "csv"     => CellInference.readCsv(spark, ref.path)
    case "json"    => CellInference.readJson(spark, ref.path)
    case "parquet" => spark.read.parquet(ref.path)
    case "avro"    => AvroConnector.read(spark, ref.path)
    case "orc"     => spark.read.orc(ref.path)
    // crawl containers: "#text" selects the curation-facing decoded
    // shape (response envelopes / conversion records → text + the
    // X-Robots-Tag consent header), "#wet" the conversion-record-only
    // WET shape; bare paths keep the full record frame
    case "warc" =>
      ref.table match {
        case Some("text") => WarcSource.readText(spark, ref.path)
        case Some("wet")  => WarcSource.readWet(spark, ref.path)
        case Some(other) => throw graft.core.GraftError.Configuration(
          s"unknown warc fragment '#$other' (expected #text or #wet)")
        case None => WarcSource.read(spark, ref.path)
      }
    // WebDataset shards: per-entry rows ("#samples" fragment for the
    // adjacency-grouped one-row-per-sample shape)
    case "tar"     =>
      if (ref.table.contains("samples")) TarSource.readSamples(spark, ref.path)
      else TarSource.read(spark, ref.path)
    // PDF: one row per page, page-tree order
    case "pdf" => PdfSource.readText(spark, ref.path)
    // ZIP archives: the tar row shape, container-agnostic downstream
    case "zip" => ZipSource.read(spark, ref.path)
    // compressed JSONL dumps (the Pile shape): zstd read through
    // zstd-jni because Spark's codec path needs native Hadoop for it
    case "jsonl" => ZstdText.readJsonl(spark, ref.path)
    case "jdbc" => readJdbc(spark, ref)
    case "http" => readRef(spark, Http.download(ref))
    case "ssh"  => readRef(spark, Ssh.download(ref))
    case other  => throw UnsupportedUri(other, Supported)
  }

  /** Streaming read for the continuous-ingest curation path: file
    * directories only (a stream needs a replayable listing; JDBC/HTTP/
    * SSH are one-shot probes, and the RDD-based Avro connector cannot
    * stream). Schema comes from ONE batch pass over the same path —
    * the standard file-stream pattern (the source must declare its
    * schema up front). For CSV that pass is the batch read's own
    * [[CellInference.rawCsv]]: the header and the 1000-row sample are
    * read on the driver without a job, the cell-typing inference runs
    * on the sample, and the CAST CHAIN applies per micro-batch, so
    * streamed CSV gets the exact S1 typing semantics (multi-format
    * dates, strict booleans), not Spark's native inference. */
  def readStream(spark: SparkSession, uri: String,
                 options: Map[String, String] = Map.empty): DataFrame = {
    val ref = parse(uri, options)
    ref.kind match {
      case "parquet" =>
        spark.readStream.schema(spark.read.parquet(ref.path).schema)
          .parquet(ref.path)
      case "orc" =>
        spark.readStream.schema(spark.read.orc(ref.path).schema)
          .orc(ref.path)
      case "csv" =>
        val raw = CellInference.rawCsv(spark, ref.path)
        val rawStream = spark.readStream.schema(raw.frame.schema)
          .options(CellInference.RawCsvOptions)
          .csv(ref.path)
        CellInference.applyTypes(rawStream, raw.columns)
      case other => throw graft.core.GraftError.Configuration(
        s"streaming source must be a parquet/orc/csv directory, " +
          s"got '$other' (uri '$uri')")
    }
  }

  /** JDBC scan with the reference's keyset-pagination idea mapped to
    * Spark's native parallelism (odbc.rs:196-256 → partitionColumn):
    *
    *  - `query` option → query-as-source (mssql.rs:47-50 custom-query
    *    mode; works for every dialect here);
    *  - explicit `partitionColumn` without bounds → one MIN/MAX probe
    *    query fills lowerBound/upperBound (numPartitions defaults 8);
    *  - no `partitionColumn` → the PK-candidate heuristic
    *    (odbc.rs:196-203: integer column named id, _id- or id-suffixed)
    *    runs against the fetched schema and, when it hits, parallelizes the
    *    same way; heuristic and probe failures fall back to a
    *    single-connection read, never an error.
    *
    * A single-connection JDBC scan at 100 TB is the reference's O(n²)
    * OFFSET weakness reborn — this path exists so it never happens by
    * default. */
  private def readJdbc(spark: SparkSession, ref: Ref): DataFrame = {
    def base = spark.read.format("jdbc").option("url", ref.path)
    if (ref.options.contains("query"))
      return base.options(ref.options).load()

    val table = ref.table.getOrElse(throw graft.core.GraftError.Configuration(
      s"jdbc source needs #table (or a query option): ${ref.path}"))
    // the fallback reader must NOT carry any part of the partition spec:
    // Spark requires all-or-none of partitionColumn/lowerBound/upperBound/
    // numPartitions, so "probe failed → plain" (or a user-supplied partial
    // spec) would otherwise throw instead of degrading to a
    // single-connection read
    def plain = base.option("dbtable", table)
      .options(ref.options - "partitionColumn" - "numPartitions"
        - "lowerBound" - "upperBound")

    val fullyBounded = ref.options.contains("lowerBound") &&
      ref.options.contains("upperBound")
    val explicit = ref.options.get("partitionColumn")

    if (explicit.isDefined && fullyBounded) {
      // complete user spec — pass through, defaulting only numPartitions
      // (Spark errors on partitionColumn+bounds without it)
      base.option("dbtable", table)
        .option("numPartitions", ref.options.getOrElse("numPartitions", "8"))
        .options(ref.options).load()
    } else {
      val partitionCol: Option[String] = explicit.orElse {
        scala.util.Try(pkCandidate(plain.load().schema)).toOption.flatten
      }
      partitionCol match {
        case Some(pc) =>
          val bounded = scala.util.Try {
            // dialect-quote the probed column: engines with folding
            // identifiers (e.g. Derby uppercases unquoted names) would
            // otherwise reject the probe for Spark-created lowercase
            // columns and silently lose the partitioned scan
            val q = org.apache.spark.sql.jdbc.JdbcDialects.get(ref.path)
              .quoteIdentifier(pc)
            // the probe connection needs the user's connection options
            // (user/password/driver/...) too — without them it fails
            // auth on every credentialed database and the Try silently
            // degrades to a single-connection scan
            val b = base
              .options(ref.options - "partitionColumn" - "numPartitions"
                - "lowerBound" - "upperBound")
              .option("query", s"SELECT MIN($q) AS mn, MAX($q) AS mx FROM $table")
              .load().head()
            if (b.isNullAt(0)) plain // empty table
            else plain
              .option("partitionColumn", pc)
              .option("lowerBound", b.get(0).toString)
              .option("upperBound", b.get(1).toString)
              .option("numPartitions", ref.options.getOrElse("numPartitions", "8"))
          }
          bounded.getOrElse(plain).load()
        case None => plain.load()
      }
    }
  }

  /** PK-candidate heuristic (odbc.rs:196-203): an integer column named
    * `id`, `*_id`, or `*id`. */
  def pkCandidate(
      schema: org.apache.spark.sql.types.StructType): Option[String] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, ShortType}
    schema.fields.find { f =>
      Set[org.apache.spark.sql.types.DataType](IntegerType, LongType, ShortType)
        .contains(f.dataType) && {
        val n = f.name.toLowerCase
        n == "id" || n.endsWith("_id") || n.endsWith("id")
      }
    }.map(_.name)
  }

  // ----------------------------- write --------------------------------

  /** Reference append/truncate semantics (transfer.rs:92-118):
    * exists ∧ truncate → overwrite; exists ∧ appendable → append;
    * exists ∧ ¬appendable → overwrite; else create. JSON and JDBC
    * targets are appendable; CSV/Parquet/Avro are not (csv.rs:352-356,
    * parquet.rs:508-512, json.rs:293-296).
    *
    * Returns Some(rowsWritten) when the sink counts rows as a side
    * effect of writing (the RDD-based Avro path, which bypasses the
    * Dataset action listeners); None for Dataset-action sinks, where
    * the caller should attach `df.observe(...)` instead — never a
    * re-read of the written target. */
  def write(df: DataFrame, uri: String, truncate: Boolean = false,
            options: Map[String, String] = Map.empty): Option[Long] = {
    val ref = parse(uri, options)
    val appendable = ref.kind == "json" || ref.kind == "jdbc"
    val mode =
      if (truncate) SaveMode.Overwrite
      else if (appendable) SaveMode.Append
      else SaveMode.Overwrite
    ref.kind match {
      case "csv" =>
        // header from schema order; null → "" (csv.rs:250-291);
        // RFC 4180 doubled-quote escaping to match the reader and the
        // reference csv crate's dialect
        df.write.mode(mode)
          .option("header", "true").option("nullValue", "").option("emptyValue", "\"\"")
          .option("escape", "\"")
          .options(ref.options).csv(ref.path)
        None
      case "json" if ref.options.get("jsonArray").contains("true") =>
        // reference byte-form parity (json.rs:243-281): ONE file holding a
        // JSON array; append reloads + merges (json.rs:216-241). Opt-in:
        // the array form implies a single writer, so it is for small
        // outputs a non-graft consumer reads — the default stays
        // distributed JSONL.
        Some(JsonArraySink.write(jsonReady(df), ref.path,
          append = mode == SaveMode.Append))
      case "json" =>
        jsonReady(df).write.mode(mode).options(ref.options).json(ref.path)
        None
      case "parquet" =>
        df.write.mode(mode).options(ref.options).parquet(ref.path)
        None
      case "avro" =>
        Some(AvroConnector.write(df, ref.path, overwrite = true))
      // crawl/training containers as engine targets: a WebDataset
      // `.tar` sink takes (key, ext, content) rows — the TarSource
      // contract — and a `.warc(.gz)` sink takes (uri, payload|text)
      // rows; anything else is a loud shape error, never a guess
      case "tar" =>
        val need = Seq("key", "ext", "content")
        val missing = need.filterNot(df.columns.contains)
        if (missing.nonEmpty)
          throw graft.core.GraftError.Configuration(
            s"a .tar target needs (key, ext, content) columns — " +
              s"missing ${missing.mkString(", ")}; for a document " +
              "frame use a curation job (id/text map to WebDataset " +
              "samples) or select the three columns explicitly")
        Some(TarSource.write(df, ref.path, "key", "ext", "content",
          gzip = ref.path.endsWith(".gz")))
      case "warc" =>
        val uriCol = Seq("uri", "target_uri").find(df.columns.contains)
          .getOrElse(throw graft.core.GraftError.Configuration(
            "a .warc target needs a uri (or target_uri) column"))
        val payloadCol = Seq("payload", "text", "http_body")
          .find(df.columns.contains)
          .getOrElse(throw graft.core.GraftError.Configuration(
            "a .warc target needs a payload (or text/http_body) column"))
        Some(WarcSource.write(df, ref.path, uriCol, payloadCol))
      case "zip" =>
        val need = Seq("key", "ext", "content")
        val missing = need.filterNot(df.columns.contains)
        if (missing.nonEmpty)
          throw graft.core.GraftError.Configuration(
            s"a .zip target needs (key, ext, content) columns — " +
              s"missing ${missing.mkString(", ")}")
        Some(ZipSource.write(df, ref.path, "key", "ext", "content"))
      case "jsonl" =>
        val compression =
          if (ref.path.endsWith(".zst")) "zstd"
          else if (ref.path.endsWith(".gz")) "gzip" else "none"
        Some(ZstdText.writeJsonl(df, ref.path, compression))
      case "pdf" =>
        val nameCol = Seq("name", "doc_id").find(df.columns.contains)
          .getOrElse(throw graft.core.GraftError.Configuration(
            "a .pdf target needs a name (or doc_id) column"))
        val textCol = Seq("text", "payload").find(df.columns.contains)
          .getOrElse(throw graft.core.GraftError.Configuration(
            "a .pdf target needs a text (or payload) column"))
        Some(PdfSource.write(df, ref.path, nameCol, textCol))
      case "orc" =>
        df.write.mode(mode).options(ref.options).orc(ref.path)
        None
      case "jdbc" =>
        // MSSQL write-side coercion parity (mssql.rs:432-519): string
        // values bound for numeric/bit columns parse-or-NULL before the
        // prepared batch, instead of failing the INSERT
        val frame =
          if (ref.path.startsWith("jdbc:sqlserver"))
            ref.options.get("createTableColumnTypes")
              .map(mssqlCoerce(df, _)).getOrElse(df)
          else df
        // raw jdbc: URLs get a typed error without #table — the
        // file-stem fallback would derive a garbage table name from the
        // connection string and fail deep in the driver
        val targetTable = ref.table.getOrElse {
          if (uri.startsWith("jdbc:"))
            throw graft.core.GraftError.Configuration(
              s"jdbc target needs #table: $uri")
          else tableName(uri)
        }
        val writer = frame.write.mode(if (truncate) SaveMode.Overwrite else SaveMode.Append)
          .format("jdbc")
          .option("url", ref.path)
          .option("dbtable", targetTable)
          .option("truncate", truncate.toString)
        val withDdl = sinkDdl(ref.path, frame.schema) match {
          case Some(ddl) if !ref.options.contains("createTableColumnTypes") =>
            writer.option("createTableColumnTypes", ddl)
          case _ => writer
        }
        try withDdl.options(ref.options).save()
        catch { case e: Throwable =>
          throw mysqlDatabaseHint(ref.path, e).getOrElse(e)
        }
        None
      case other => throw UnsupportedUri(other, Supported)
    }
  }

  /** One sink write with its row count: `write` runs `df` tapped by a
    * `count(lit(1))` [[Observation]], so the count rides the write job
    * itself (one pass, no re-read of the target); a sink that counts
    * rows directly (`write` returns Some, e.g. the RDD-based Avro path,
    * which fires no Dataset listener) wins. Failures other than a typed
    * [[graft.core.GraftError]] become `DataTransfer("writing $what
    * failed")`. */
  def countedWrite(df: DataFrame, what: String)(
      write: DataFrame => Option[Long]): Long = {
    import org.apache.spark.sql.functions.{count, lit}
    val obs = Observation()
    val direct =
      try write(df.observe(obs, count(lit(1)).as("rows")))
      catch {
        case e: graft.core.GraftError => throw e // already typed
        case e: Exception => throw graft.core.GraftError.DataTransfer(
          s"writing $what failed: ${e.getMessage}", e)
      }
    direct.getOrElse(obs.get("rows").asInstanceOf[Long])
  }

  /** Sink DDL type maps from the reference, via createTableColumnTypes:
    * sqlite T5 (sqlite.rs:256-267), postgres T7 (postgres.rs:376-384),
    * mysql T8 (mysql.rs:390-401), mssql T9 (mssql.rs:357-367). */
  def sinkDdl(url: String,
      schema: org.apache.spark.sql.types.StructType): Option[String] = {
    import org.apache.spark.sql.types._
    def isJson(f: StructField) = f.metadata.contains(graft.core.TinyType.JsonMetaKey)
    val dialect: Option[StructField => String] =
      if (url.startsWith("jdbc:sqlite")) Some { f => f.dataType match {
        case LongType | IntegerType => "INTEGER"
        case DoubleType | FloatType | _: DecimalType => "REAL"
        case BooleanType => "INTEGER"
        case _ => "TEXT" // string/date/datetime/json → TEXT
      }}
      else if (url.startsWith("jdbc:postgresql")) Some { f => f.dataType match {
        case LongType | IntegerType => "BIGINT"
        case DoubleType | FloatType | _: DecimalType => "DECIMAL(18,6)"
        case BooleanType => "BOOLEAN"
        case TimestampType | DateType => "TIMESTAMP WITH TIME ZONE"
        case _ if isJson(f) => "JSONB"
        case _ => "TEXT"
      }}
      else if (url.startsWith("jdbc:mysql")) Some { f => f.dataType match {
        case LongType | IntegerType => "BIGINT"
        case DoubleType | FloatType | _: DecimalType => "DECIMAL(65,30)"
        case BooleanType => "BOOLEAN"
        case TimestampType | DateType => "DATETIME"
        case _ if isJson(f) => "JSON"
        case _ => "TEXT"
      }}
      else if (url.startsWith("jdbc:sqlserver")) Some { f => f.dataType match {
        case LongType | IntegerType => "BIGINT"
        case DoubleType | FloatType | _: DecimalType => "DECIMAL(18,6)"
        case BooleanType => "BIT"
        case TimestampType | DateType => "DATETIME2"
        case _ => "NVARCHAR(MAX)" // string + json
      }}
      else None
    dialect.map(f => schema.fields.map(fl => s"${fl.name} ${f(fl)}").mkString(", "))
  }

  /** MSSQL write-side type coercion (T9, mssql.rs:432-519): the
    * reference coerces STRING values headed for typed columns before
    * building its INSERT — parse-or-NULL for Integer/Decimal, the
    * {true,1,yes}/{false,0,no} literal sets (case-insensitive) for
    * Boolean, anything unparseable becomes NULL rather than an error.
    * Here that is one `try_cast`/`when` projection ahead of the JDBC
    * writer (prepared batches — never literal SQL), applied to
    * string-typed frame columns whose declared target type (from
    * `createTableColumnTypes`) is numeric or BIT. */
  def mssqlCoerce(df: DataFrame, createTableColumnTypes: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // declared names may be quoted ([order id], "col") and SQL Server
    // matches identifiers case-insensitively — normalize before lookup so
    // a quoting/case mismatch can't silently skip the coercion
    def splitDecl(part: String): Option[(String, String)] = {
      val t = part.trim
      if (t.isEmpty) None
      else if (t.startsWith("[")) {
        val e = t.indexOf(']')
        if (e < 0) None else Some((t.substring(1, e), t.substring(e + 1).trim))
      } else if (t.startsWith("\"")) {
        val e = t.indexOf('"', 1)
        if (e < 0) None else Some((t.substring(1, e), t.substring(e + 1).trim))
      } else t.split("\\s+", 2) match {
        case Array(n, ty) => Some((n, ty))
        case _ => None
      }
    }
    val declared: Map[String, String] = createTableColumnTypes.split(',')
      .iterator.flatMap(splitDecl)
      .map { case (n, t) =>
        n.toLowerCase -> t.takeWhile(c => c != '(' && c != ' ').toUpperCase
      }.toMap
    val cols = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      if (f.dataType != StringType) c.as(f.name)
      else declared.get(f.name.toLowerCase) match {
        case Some("BIGINT") | Some("INT") | Some("INTEGER") | Some("SMALLINT") =>
          c.try_cast(LongType).as(f.name)
        case Some("DECIMAL") | Some("NUMERIC") | Some("FLOAT") | Some("REAL")
           | Some("DOUBLE") =>
          c.try_cast(DoubleType).as(f.name)
        case Some("BIT") =>
          when(lower(c).isin("true", "1", "yes"), lit(true))
            .when(lower(c).isin("false", "0", "no"), lit(false))
            .otherwise(lit(null).cast(BooleanType)).as(f.name)
        case _ => c.as(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** MySQL database-exists precheck parity (T8, mysql.rs:345-388): the
    * reference connects server-only and checks SHOW DATABASES before
    * writing, failing with a create-database hint. Over JDBC the driver
    * surfaces the same condition as error 1049 "Unknown database" at
    * connect/write time — map it to the reference's actionable error
    * instead of leaking the raw driver exception. */
  def mysqlDatabaseHint(url: String, e: Throwable): Option[graft.core.GraftError] =
    if (!url.startsWith("jdbc:mysql")) None
    else {
      // parse the path component with URI so sub-protocol URLs
      // (jdbc:mysql:loadbalance://h/db → opaque URI, no path) yield no
      // hint instead of a garbage database name; query params drop free
      val db = scala.util.Try(new java.net.URI(url.stripPrefix("jdbc:")))
        .toOption.flatMap(u => Option(u.getPath))
        .map(_.stripPrefix("/")).getOrElse("")
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
        .flatMap(t => Option(t.getMessage)).mkString(" | ").toLowerCase
      if (db.nonEmpty && msgs.contains("unknown database"))
        Some(graft.core.GraftError.Connection(
          s"database '$db' does not exist on the MySQL server; " +
            s"create it first: CREATE DATABASE `$db`;", e))
      else None
    }

  /** JSON sinks emit `json`-typed columns as NESTED JSON, not escaped
    * strings — the reference holds `Value::Json` and writes the tree
    * inline (json.rs:250-261). `VariantType` is Spark 4's native
    * arbitrary-JSON representation and the JSON writer renders it as
    * the object, so one codegen'd `parse_json` projection buys parity
    * for both the JSONL and single-array forms. Loud on malformed
    * cells by design: a json-tagged column holds validated JSON (V2's
    * from_json guard), so garbage here is an upstream bug, and the
    * reference would have errored at its own Value::Json parse. */
  private def jsonReady(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, parse_json}
    import org.apache.spark.sql.types.StringType
    val jsonFields = df.schema.fields.filter(f =>
      f.dataType == StringType &&
        f.metadata.contains(graft.core.TinyType.JsonMetaKey))
    if (jsonFields.isEmpty) df
    else df.withColumns(
      jsonFields.map(f => f.name -> parse_json(col(s"`${f.name}`"))).toMap)
  }

  /** Single-file JSON-array sink (T2 byte-form parity). */
  object JsonArraySink {
    def write(df: DataFrame, path: String, append: Boolean): Long = {
      import org.apache.spark.sql.functions.{col, parse_json, to_json}
      import org.apache.spark.sql.types._
      val spark = df.sparkSession
      val fs = org.apache.hadoop.fs.FileSystem.get(java.net.URI.create(path),
        spark.sparkContext.hadoopConfiguration)
      val target = new org.apache.hadoop.fs.Path(path)
      val all =
        if (append && fs.exists(target)) {
          // the incoming frame may carry variant columns (jsonReady);
          // the inferred read of the existing array yields struct/
          // string for those — re-parse them to variant so the union
          // type-checks and the merged file stays nested
          val existing0 = spark.read.option("multiLine", "true").json(path)
          val existing = df.schema.fields
            .filter(_.dataType == VariantType)
            .foldLeft(existing0) { (acc, f) =>
              if (!acc.columns.contains(f.name)) acc
              else acc.withColumn(f.name,
                acc.schema(f.name).dataType match {
                  case _: StructType | _: ArrayType | _: MapType =>
                    parse_json(to_json(col(s"`${f.name}`")))
                  case VariantType => col(s"`${f.name}`")
                  case _ => parse_json(col(s"`${f.name}`").cast(StringType))
                })
            }
          existing.unionByName(df, allowMissingColumns = true)
        } else df
      val tmp = new org.apache.hadoop.fs.Path(path + ".__jsonl_tmp__")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      all.coalesce(1).write.mode(SaveMode.Overwrite).json(tmp.toString)
      // stream the part file into one array file — O(1) driver memory
      val part = fs.listStatus(tmp)
        .map(_.getPath).find(_.getName.startsWith("part-"))
      val out = fs.create(target, true)
      var rows = 0L
      try {
        out.write('[')
        part.foreach { p =>
          val in = new java.io.BufferedReader(new java.io.InputStreamReader(
            fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
          try {
            var line = in.readLine()
            while (line != null) {
              if (line.nonEmpty) {
                if (rows > 0) out.write(',')
                out.write('\n'); out.write(' '); out.write(' ')
                out.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                rows += 1
              }
              line = in.readLine()
            }
          } finally in.close()
        }
        out.write('\n'); out.write(']'); out.write('\n')
      } finally out.close()
      fs.delete(tmp, true)
      rows
    }
  }

  // ------------------------ protocol layer -----------------------------

  /** HTTP(S) download source (S11): GET with header.*, basic auth or
    * bearer options; body lands in a repo-local temp file and is routed
    * by extension (or an explicit `sourceType` option). */
  object Http {
    def download(ref: Ref): Ref = {
      val url = new java.net.URI(ref.path).toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      // reference option names first (http.rs:53-65: auth.basic.username/
      // auth.basic.password/auth.bearer); short forms kept as aliases
      ref.options.get("auth.bearer").orElse(ref.options.get("bearer_token"))
        .foreach(t => conn.setRequestProperty("Authorization", s"Bearer $t"))
      for {
        u <- ref.options.get("auth.basic.username")
          .orElse(ref.options.get("username"))
        p <- ref.options.get("auth.basic.password")
          .orElse(ref.options.get("password"))
      } {
        val cred = java.util.Base64.getEncoder.encodeToString(
          s"$u:$p".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        conn.setRequestProperty("Authorization", s"Basic $cred")
      }
      ref.options.filter(_._1.startsWith("header.")).foreach { case (k, v) =>
        conn.setRequestProperty(k.stripPrefix("header."), v)
      }
      val ext = ref.options.getOrElse("sourceType",
        ref.path.split('?').head.split('.').last.toLowerCase match {
          case e @ ("csv" | "json" | "parquet" | "avro" | "orc") => e
          case _ => throw graft.core.GraftError.Configuration(
            s"cannot infer type of ${ref.path}; pass sourceType option")
        })
      // non-2xx → typed, actionable error with status + body snippet
      // (http.rs:66-90 checks response.status before reading the body);
      // checked BEFORE the temp file exists so failures leave nothing
      // behind, and the snippet read loops to EOF/512B — a single read()
      // may legally return fewer bytes than available
      val status = conn.getResponseCode
      if (status < 200 || status >= 300) {
        val snippet = Option(conn.getErrorStream).map { es =>
          try {
            val buf = new Array[Byte](512)
            var off = 0
            var n = es.read(buf, 0, buf.length)
            while (n > 0) {
              off += n
              n = if (off < buf.length) es.read(buf, off, buf.length - off) else -1
            }
            new String(buf, 0, off, java.nio.charset.StandardCharsets.UTF_8)
          } finally es.close()
        }.getOrElse("").trim
        throw graft.core.GraftError.Connection(
          s"HTTP $status from ${ref.path}" +
            (if (snippet.nonEmpty) s": $snippet" else ""))
      }
      val tmp = java.nio.file.Files.createTempFile(
        localTmp(), "http_dl_", s".$ext")
      val in = conn.getInputStream
      try java.nio.file.Files.copy(in, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      Ref(ext, tmp.toString, ref.table, ref.options)
    }
  }

  /** SSH/SCP source (S12, ssh.rs:28-98): `scp` subprocess to a temp
    * file, then extension routing.
    *
    * ENV-BLOCKED end-to-end in this sandbox (no sshd, zero egress):
    * everything up to the process launch — URL validation with the
    * reference's exact error contract, port default, remote form, the
    * scp argv — is pure ([[plan]]/[[ext]]) and unit-pinned, and the
    * subprocess FAILURE path (non-zero exit → typed Connection error
    * with stderr, temp file removed) runs for real in SshSpec against a
    * closed local port. Only a successful transfer is untestable here. */
  object Ssh {

    /** Pure scp argv (ssh.rs:66-82): `-P port`, no host-key prompts,
      * quiet; plus BatchMode so a headless engine can never hang on a
      * password prompt. Validation errors mirror ssh.rs:31-50. */
    def plan(ref: Ref, dest: String): Seq[String] = {
      val u = new java.net.URI(ref.path)
      val host = Option(u.getHost).filter(_.nonEmpty).getOrElse(
        throw graft.core.GraftError.Configuration(
          s"SSH URL must specify a host: ${ref.path}"))
      val user = Option(u.getUserInfo).filter(_.nonEmpty).getOrElse(
        throw graft.core.GraftError.Configuration(
          s"SSH URL must specify a username (ssh://user@host/path): ${ref.path}"))
      val path = Option(u.getPath).filter(p => p.nonEmpty && p != "/").getOrElse(
        throw graft.core.GraftError.Configuration(
          s"SSH URL must specify a file path: ${ref.path}"))
      val port = if (u.getPort > 0) u.getPort else 22
      Seq("scp", "-P", port.toString,
        "-o", "BatchMode=yes",
        "-o", "StrictHostKeyChecking=no",
        "-o", "UserKnownHostsFile=/dev/null",
        "-q", s"$user@$host:$path", dest)
    }

    /** Extension for routing; `sourceType` option overrides (same
      * contract as the HTTP source). */
    def ext(ref: Ref): String = ref.options.getOrElse("sourceType",
      new java.net.URI(ref.path).getPath.split('.').last.toLowerCase)

    def download(ref: Ref): Ref = {
      val e = ext(ref)
      plan(ref, "") // validate BEFORE the temp file exists
      val tmp = java.nio.file.Files.createTempFile(localTmp(), "scp_dl_", s".$e")
      try {
        // plan() is pure — rebuild with the real destination rather than
        // positionally patching the probe argv
        val proc = new ProcessBuilder(plan(ref, tmp.toString): _*).start()
        // drain stderr before waitFor so a chatty scp can't deadlock
        val stderr = new String(proc.getErrorStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        val rc = proc.waitFor()
        if (rc != 0)
          throw graft.core.GraftError.Connection(
            s"SCP failed to download file from ${ref.path}: ${stderr.trim}")
        Ref(e, tmp.toString, ref.table, ref.options)
      } catch {
        case t: Throwable =>
          java.nio.file.Files.deleteIfExists(tmp)
          throw t
      }
    }
  }

  private[sources] def localTmp(): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(sys.props("user.dir"), "target", "tmp",
      "downloads")
    java.nio.file.Files.createDirectories(p)
    p
  }
}
