package graft.infer

import graft.core.TinyType
import graft.core.TinyType._

import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.FilePartition
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
  * materialization (bounded, like the reference). The actual conversion
  * is a per-column codegen'd cast chain over the full distributed scan —
  * column pruning and predicate pushdown still reach the file scan
  * because the casts are plain projections.
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

  /** Infer tiny columns from an all-string DataFrame by sampling
    * `SampleRows` rows (driver-side, bounded — mirrors transfer.rs:47).
    * Date + DateTime observations unify to DateTime (one runtime repr). */
  def inferColumns(raw: DataFrame, sampleRows: Int = SampleRows): Seq[TinyColumn] = {
    val names = raw.columns.toSeq
    val sample = raw.limit(sampleRows).collect()
    names.zipWithIndex.map { case (name, i) =>
      val observed = sample.toSeq.map { row =>
        classify(if (row.isNullAt(i)) null else row.getString(i))
      }
      // Date/DateTime share one runtime repr; a mix is DateTime, not String.
      val normalized =
        if (observed.exists(_ == TDateTime) && observed.contains(TDate))
          observed.map(t => if (t == TDate) TDateTime else t)
        else observed
      val (tpe, nullable) = TinyType.resolve(normalized)
      TinyColumn(name, tpe, nullable)
    }
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

  /** The CSV input as text cells, named as Spark's own `header` read
    * names them in the [[RawCsvOptions]] dialect: what typing samples
    * and casts, for the batch and the streaming read alike. The header
    * is read on the driver instead of in the Spark job (`take(1)` over
    * a text scan) that Spark spends on it, from the file that `take(1)`
    * reaches first: the planned text scan orders its splits by length,
    * largest first, and empty files have none. `CSVUtils.readHeaderLine`
    * skips empty and comment lines and decodes compression codecs; the
    * dialect's univocity parser splits the line, and
    * `CSVUtils.makeSafeHeader` names empty and duplicate columns. An
    * input whose files hold no header line has no columns; an input
    * with no files fails as Spark's read does. */
  def rawCsv(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.conf
    val options = new CSVOptions(RawCsvOptions, conf.csvColumnPruning,
      conf.sessionLocalTimeZone)
    val scan = spark.read.text(path).queryExecution.sparkPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get
    if (scan.relation.location.inputFiles.isEmpty)
      throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "CSV"))
    val hadoopConf = spark.sessionState.newHadoopConf()
    val firstLine = scan.inputRDD.partitions.iterator
      .flatMap { case p: FilePartition => p.files.iterator.map(_.toPath) }
      .distinct
      .flatMap(CSVUtils.readHeaderLine(_, options, hadoopConf))
      .nextOption()
    val names = firstLine.flatMap(l =>
      Option(new CsvParser(options.asParserSettings).parseLine(l)))
    val schema = StructType(names.toSeq.flatMap(n =>
      CSVUtils.makeSafeHeader(n, conf.caseSensitiveAnalysis, options))
      .map(StructField(_, StringType)))
    spark.read.schema(schema).options(RawCsvOptions).csv(path)
  }

  /** tinyetl-semantics CSV read: header row, every column read raw as
    * string, types inferred from a 1000-row sample, then cast
    * distributed. Differs from Spark's `inferSchema` on purpose
    * (multi-format dates, strict "true"/"false" booleans). */
  def readCsv(spark: SparkSession, path: String,
              sampleRows: Int = SampleRows): DataFrame = {
    val raw = rawCsv(spark, path)
    applyTypes(raw, inferColumns(raw, sampleRows))
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
