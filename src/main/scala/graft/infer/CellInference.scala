package graft.infer

import graft.core.TinyType
import graft.core.TinyType._

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{DataSource, FilePartition,
  HadoopFileLinesReader, HadoopFsRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Speculative cell typing + sampled schema inference.
  *
  * Semantics from the reference:
  *  - per-cell speculative parse order int → decimal → bool("true"/"false"
  *    exactly) → date(chain) → ""→null → string
  *    (`/root/reference/src/connectors/csv.rs:82-111`);
  *  - schema = per-column unification over ≤1000 sampled rows, nulls
  *    don't vote, mixed → String, all-null → String, ALWAYS nullable
  *    (`src/schema.rs:526-554`, `src/transfer.rs:47`);
  *  - CSV header order is preserved (csv.rs:34-80) — free with Spark.
  *
  * Scale design: the 1000-row sample is the only driver-side
  * materialization (bounded, like the reference). For CSV it is one
  * bounded driver-side read, sequential as the reference's is: the
  * first rows of the input's splits in the scan's own order, through
  * the scan's own line reader and parser, so typing runs no Spark job
  * ([[rawCsv]]). The actual conversion is a per-column codegen'd cast
  * chain over the full distributed scan — column pruning and predicate
  * pushdown still reach the file scan because the casts are plain
  * projections. A quarantine transfer forks its two routes from a
  * lineage-keeping row cache of the typed, checked rows
  * (`TransferEngine.execute`), not from a second scan.
  */
object CellInference {

  val SampleRows = 1000

  private val intRe = "[+-]?\\d{1,19}".r.pattern
  private val decRe = "[+-]?(\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d+)?".r.pattern

  /** Classify one cell exactly like CsvSource::parse_value. */
  def classify(cell: String): TinyType = {
    if (cell == null) TNull
    else if (intRe.matcher(cell).matches && isI64(cell)) TInteger
    else if (decRe.matcher(cell).matches) TDecimal
    else if (cell == "true" || cell == "false") TBoolean
    else if (DateFormats.tryParse(cell).isDefined) {
      if (DateFormats.isDateOnly(cell)) TDate else TDateTime
    } else if (cell.isEmpty) TNull
    else TString
  }

  private def isI64(s: String): Boolean =
    try { s.toLong; true } catch { case _: NumberFormatException => false }

  /** Infer tiny columns from an all-string DataFrame by collecting its
    * first `sampleRows` rows. [[rawCsv]] reads the same rows on the
    * driver without a Spark job; this form serves callers that hold
    * only a frame. */
  def inferColumns(raw: DataFrame, sampleRows: Int = SampleRows): Seq[TinyColumn] =
    unify(raw.columns.toSeq, raw.limit(sampleRows).collect().toSeq.map(row =>
      (0 until row.length).map(i => if (row.isNullAt(i)) null else row.getString(i))))

  /** Per-column unification of sampled text cells (transfer.rs:47):
    * each cell is classified, then the column's observations resolve.
    * Date + DateTime observations unify to DateTime (one runtime repr). */
  private def unify(names: Seq[String], sample: Seq[Seq[String]]): Seq[TinyColumn] =
    names.zipWithIndex.map { case (name, i) =>
      val observed = sample.map(row => classify(row(i)))
      // Date/DateTime share one runtime repr; a mix is DateTime, not String.
      val normalized =
        if (observed.exists(_ == TDateTime) && observed.contains(TDate))
          observed.map(t => if (t == TDate) TDateTime else t)
        else observed
      val (tpe, nullable) = TinyType.resolve(normalized)
      TinyColumn(name, tpe, nullable)
    }

  /** The distributed conversion for one inferred column: empty→null, then
    * a lenient typed cast (failures → null, like per-cell fallback). */
  def castExpr(c: Column, tpe: TinyType): Column = {
    val nulled = when(c === lit(""), lit(null)).otherwise(c)
    tpe match {
      case TInteger          => try_cast_long(nulled)
      case TDecimal          => nulled.try_cast(DoubleType)
      case TBoolean          => when(nulled === "true", lit(true))
                                  .when(nulled === "false", lit(false))
      case TDate | TDateTime => DateFormats.parseExpr(nulled)
      case TJson             => nulled
      case _                 => nulled
    }
  }

  // ANSI cast string→long rejects decimals; that's the wanted i64 parse.
  private def try_cast_long(c: Column): Column = c.try_cast(LongType)

  /** Apply inferred types to an all-string DataFrame (one projection —
    * single codegen stage over the scan, no shuffle). */
  def applyTypes(raw: DataFrame, cols: Seq[TinyColumn]): DataFrame = {
    val exprs = cols.map { tc =>
      castExpr(col(s"`${tc.name}`"), tc.tpe).as(tc.name, tc.tpe.metadata)
    }
    raw.select(exprs: _*)
  }

  /** The raw CSV dialect every tinyetl-semantics CSV read (batch and
    * stream) uses: header row, every cell kept as text (typing is
    * ours), and RFC 4180 doubled-quote escaping ("" inside a quoted
    * cell), the reference csv crate's dialect — Spark's backslash
    * default would mangle quoted JSON cells. "" must reach classify
    * (not become null early); the null sentinel is NUL-wrapped so no
    * legal CSV cell can ever equal it — a plain-text sentinel would
    * silently null matching cells. */
  val RawCsvOptions: Map[String, String] = Map(
    "header" -> "true",
    "inferSchema" -> "false",
    "nullValue" -> "\u0000never\u0000",
    "escape" -> "\"")

  /** A CSV input as text cells: the frame every cell of it stays text
    * in, and the first rows its scan reads, read on the driver.
    * `columns` types the frame from them. */
  final case class RawCsv(frame: DataFrame, sample: Seq[Seq[String]]) {
    def columns: Seq[TinyColumn] = unify(frame.columns.toSeq, sample)
  }

  /** The CSV input in the [[RawCsvOptions]] dialect, named as Spark's
    * own `header` read names it, with its first `sampleRows` rows: what
    * typing samples and casts, for the batch and the streaming read
    * alike. The input is listed once, as Spark's read lists it (globs,
    * hidden files, partition directories), and the frame reads that
    * listing. Nothing runs a Spark job. The header comes from the first
    * file the scan reads that holds a line: `CSVUtils.readHeaderLine`
    * skips empty and comment lines and decodes compression codecs, the
    * dialect's univocity parser splits the line, and
    * `CSVUtils.makeSafeHeader` names empty and duplicate columns. The
    * sample is one bounded sequential read, as the reference's is: the
    * splits in scan order, each through the executor's own line reader
    * and CSV parser, until `sampleRows` rows. These are the rows a
    * `limit(sampleRows).collect()` of the frame returns. An input whose
    * files hold no header line has no columns; an input with no files
    * fails as Spark's read does. */
  def rawCsv(spark: SparkSession, path: String,
             sampleRows: Int = SampleRows): RawCsv = {
    val conf = spark.sessionState.conf
    val options = new CSVOptions(RawCsvOptions, conf.csvColumnPruning,
      conf.sessionLocalTimeZone)
    val listing = DataSource(spark, "csv", Seq(path), Some(new StructType),
      options = RawCsvOptions).resolveRelation().asInstanceOf[HadoopFsRelation]
    if (listing.location.inputFiles.isEmpty)
      throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "CSV"))
    val hadoopConf = spark.sessionState.newHadoopConf()
    val splits = scanOrder(spark, listing)
    val firstLine = splits.iterator.map(_.toPath).distinct
      .flatMap(CSVUtils.readHeaderLine(_, options, hadoopConf))
      .nextOption()
    val names = firstLine.flatMap(l =>
      Option(new CsvParser(options.asParserSettings).parseLine(l)))
    // a partition column shadows a header column of its name, as in
    // Spark's read with a given schema
    val partitions = listing.partitionSchema
    val dataSchema = StructType(names.toSeq.flatMap(n =>
      CSVUtils.makeSafeHeader(n, conf.caseSensitiveAnalysis, options))
      .filterNot(n => partitions.exists(p => conf.resolver(p.name, n)))
      .map(StructField(_, StringType)))
    val frame = spark.baseRelationToDataFrame(
      listing.copy(dataSchema = dataSchema)(spark))
    RawCsv(frame, firstRows(splits, dataSchema, partitions, sampleRows,
      options, hadoopConf))
  }

  /** The input's splits in the order its planned scan reads them
    * (`FileSourceScanExec`): each file cut at `maxSplitBytes` where the
    * format can split it (not `.gz`), largest split first, then packed
    * into partitions. */
  private[infer] def scanOrder(spark: SparkSession,
                               listing: HadoopFsRelation): Seq[PartitionedFile] = {
    val dirs = listing.location.listFiles(Nil, Nil)
    val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
    val splits = dirs.flatMap { dir =>
      dir.files.flatMap { f =>
        val p = f.getPath
        PartitionedFileUtil.splitFiles(f, p,
          listing.fileFormat.isSplitable(spark, listing.options, p),
          maxSplit, dir.values)
      }
    }.sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(spark, splits, maxSplit).flatMap(_.files)
  }

  /** The first `n` rows of `splits` as text cells, the data columns then
    * the split's partition values: each split read in turn through
    * `HadoopFileLinesReader` and `UnivocityParser.parseIterator` with a
    * `CSVHeaderChecker`, as a scan task reads it, and closed. */
  private def firstRows(splits: Seq[PartitionedFile], schema: StructType,
                        partitions: StructType, n: Int, options: CSVOptions,
                        hadoopConf: Configuration): Seq[Seq[String]] = {
    val rows = Vector.newBuilder[Seq[String]]
    var left = n
    val files = splits.iterator
    while (left > 0 && files.hasNext) {
      val file = files.next()
      val partitionCells = partitions.fields.indices.map { i =>
        val t = partitions(i).dataType
        val v = Cast(Literal(file.partitionValues.get(i, t), t), StringType,
          Some(options.zoneId.getId)).eval()
        if (v == null) null else v.toString
      }
      val reader = new HadoopFileLinesReader(file, options.lineSeparatorInRead,
        hadoopConf)
      try {
        val lines = reader.map(l =>
          new String(l.getBytes, 0, l.getLength, options.charset))
        val checker = new CSVHeaderChecker(schema, options,
          s"CSV file: ${file.urlEncodedPath}", file.start == 0)
        GraftBridge.parseCsv(lines, new UnivocityParser(schema, options),
          checker, schema).take(left).foreach { row =>
          rows += schema.indices.map(i =>
            if (row.isNullAt(i)) null else row.getUTF8String(i).toString) ++
            partitionCells
          left -= 1
        }
      } finally reader.close()
    }
    rows.result()
  }

  /** tinyetl-semantics CSV read: header row, every column read raw as
    * string, types inferred from the first 1000 rows, then cast
    * distributed. Differs from Spark's `inferSchema` on purpose
    * (multi-format dates, strict "true"/"false" booleans). */
  def readCsv(spark: SparkSession, path: String,
              sampleRows: Int = SampleRows): DataFrame = {
    val raw = rawCsv(spark, path, sampleRows)
    applyTypes(raw.frame, raw.columns)
  }

  /** tinyetl-semantics JSON read (S2): JSON-array files (the reference's
    * only accepted shape, json.rs:73-80) AND JSON-lines files (what
    * distributed sinks produce); numbers stay typed, strings are
    * date-sniffed, nested arrays/objects are stringified (json.rs:28-57). */
  def readJson(spark: SparkSession, path: String,
               sampleRows: Int = SampleRows): DataFrame = {
    // Sniff: a whole-file JSON array needs multiLine; JSONL must not use it
    // (multiLine on JSONL parses only the first object).
    val isArray = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        java.net.URI.create(path), spark.sparkContext.hadoopConfiguration)
      val p = new org.apache.hadoop.fs.Path(path)
      val first =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).map(_.getPath)
            .find(f => f.getName.endsWith(".json") || f.getName.startsWith("part-"))
        else Some(p)
      first.exists { f =>
        val in = fs.open(f)
        try {
          val buf = new Array[Byte](256)
          val n = in.read(buf)
          new String(buf, 0, math.max(n, 0),
            java.nio.charset.StandardCharsets.UTF_8).trim.startsWith("[")
        } finally in.close()
      }
    }
    val df = spark.read.option("multiLine", isArray.toString).json(path)
    val exprs = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case StringType =>
          // date-sniff string columns from a sample, like parse_value
          c.as(f.name)
        case _: ArrayType | _: StructType | _: MapType =>
          to_json(c).as(f.name) // stringify nested (json.rs:53-56)
        case _: DecimalType | FloatType => c.cast(DoubleType).as(f.name)
        case _ => c.as(f.name)
      }
    }
    val flat = df.select(exprs: _*)
    // second pass: sample string columns; ones that are all dates become timestamps
    val stringCols = flat.schema.fields.filter(_.dataType == StringType).map(_.name)
    if (stringCols.isEmpty) flat
    else {
      val sample = flat.select(stringCols.map(n => col(s"`$n`")): _*).limit(sampleRows).collect()
      val dateCols = stringCols.zipWithIndex.collect {
        case (n, i) if sample.nonEmpty && sample.forall(r =>
          r.isNullAt(i) || DateFormats.tryParse(r.getString(i)).isDefined) &&
          sample.exists(!_.isNullAt(i)) => n
      }.toSet
      val out = flat.schema.fields.toSeq.map { f =>
        if (dateCols(f.name)) DateFormats.parseExpr(col(s"`${f.name}`")).as(f.name)
        else col(s"`${f.name}`")
      }
      flat.select(out: _*)
    }
  }
}
