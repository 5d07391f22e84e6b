package graft.engine

import graft.sources.Connectors
import graft.transform.Transform
import graft.validate.{SchemaFile, Validation}

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws}
import org.apache.spark.storage.StorageLevel

/** The pipeline driver (U1, `/root/reference/src/transfer.rs:23-199`):
  * read → [validate] → [transform] → (preview | dry-run | write).
  *
  * The reference's 10 sequential steps collapse into one lazy Spark
  * plan: Catalyst sees scan + validation + transform as a single
  * optimized query, so filters/pruning push into the source — the
  * opposite of the reference's opaque per-row loop (SURVEY §4.1).
  */
final case class TransformSpec(
    inline: Option[String] = None,
    script: Option[String] = None,
    filter: Option[String] = None,
    file: Option[String] = None)

final case class JobConfig(
    source: String,
    target: String,
    sourceOptions: Map[String, String] = Map.empty,
    targetOptions: Map[String, String] = Map.empty,
    transform: TransformSpec = TransformSpec(),
    schemaFile: Option[String] = None,
    truncate: Boolean = false,
    skipExisting: Boolean = false,
    primaryKey: Option[String] = None,
    /** "double" (reference parity — the reference computes Decimal in
      * f64 at every boundary, SURVEY §1.2) or "exact": floating columns
      * are cast to DecimalType(38,18) at the WRITE boundary, so sinks
      * that declare SQL DECIMAL (postgres.rs:379 DECIMAL(18,6),
      * mysql.rs:393 DECIMAL(65,30)) get exact digits while reads and
      * transforms keep f64 semantics. */
    decimalMode: String = "double",
    /** Dead-letter target: rows failing schema validation are written
      * here (raw source typing + a `_violations` reason column) instead
      * of aborting the batch — the reference's fail-fast semantics
      * become route-and-continue. Requires `schemaFile`. */
    quarantine: Option[String] = None) {
  if (decimalMode != "double" && decimalMode != "exact")
    throw graft.core.GraftError.Configuration(
      s"decimal mode must be double|exact, got '$decimalMode'")
  if (quarantine.isDefined && schemaFile.isEmpty)
    throw graft.core.GraftError.Configuration(
      "quarantine requires schema_file — without schema checks there is " +
        "nothing to quarantine")
}

final case class TransferStats(totalRows: Long, seconds: Double,
                               rejectedRows: Long = 0L) {
  def rowsPerSecond: Double = if (seconds > 0) totalRows / seconds else 0.0
}

class TransferEngine(cfg: JobConfig) {

  /** The source frame: built ONCE per call and shared by every route
    * and preview section (a second build would re-run the inference
    * sample and re-download http/ssh sources). */
  private def source(spark: SparkSession): DataFrame =
    Connectors.read(spark, cfg.source, cfg.sourceOptions)

  /** Validation stage, BEFORE transform (transfer.rs:154-159,
    * README.md:772): fail-fast by default; with a quarantine target
    * configured, the valid side of [[Validation.quarantine]]'s split —
    * preview and dry-run render it, and [[execute]] writes both sides
    * from one scan. */
  private def validated(df: DataFrame): DataFrame =
    cfg.schemaFile.map(SchemaFile.fromFile) match {
      case None => df
      case Some(sf) if cfg.quarantine.isEmpty => Validation(df, sf)
      case Some(sf) => Validation.quarantine(Validation.annotate(df, sf), sf)._1
    }

  /** Build the full lazy plan (read → validate → transform). */
  def plan(spark: SparkSession): DataFrame =
    applyTransforms(spark, validated(source(spark)))

  /** The validate → transform stages over an externally built source
    * frame — the streaming curation path reads via
    * [[Connectors.readStream]] and runs the EXACT batch stage bodies on
    * the stream (they are column expressions; parity is structural).
    * skip-existing is a batch anti-join and must be off. */
  def planOver(spark: SparkSession, source: DataFrame): DataFrame = {
    if (source.isStreaming && cfg.skipExisting)
      throw graft.core.GraftError.Configuration(
        "skip_existing cannot stream (it anti-joins the target's current " +
          "keys, a batch-time snapshot) — deduplicate in the curation " +
          "stage instead")
    if (source.isStreaming && cfg.quarantine.isDefined)
      throw graft.core.GraftError.Configuration(
        "quarantine cannot stream (it forks the batch into two sinks " +
          "over one materialized pass) — run validation-routing as a " +
          "batch transfer")
    applyTransforms(spark, validated(source))
  }

  /** Transform + skip-existing stages over an already-built source
    * frame — split out so preview can render both stages from ONE
    * source build (a second build would re-download http/ssh sources
    * and re-run JDBC schema/bounds probes). */
  private def applyTransforms(spark: SparkSession,
                              source: DataFrame): DataFrame = {
    var df = source
    // --transform-file wins over --transform (cli.rs:183-191)
    cfg.transform.file match {
      case Some(p) => df = graft.transform.LuaFile.fromFile(df, p)
      case None =>
        cfg.transform.inline.foreach(t => df = Transform.inline(df, t))
        cfg.transform.script.foreach(t => df = Transform.script(df, t))
        cfg.transform.filter.foreach(t => df = Transform.filter(df, t))
    }
    // --skip-existing: documented intent is "skip rows already in the
    // target by primary key" (cli.rs:46-47; never wired in the
    // reference engine — SURVEY §2.E). Implemented as a left_anti join
    // against the target's current keys; broadcast-able when small.
    // A target that cannot be read has nothing to skip; a readable one
    // without the key column is a configuration error.
    if (cfg.skipExisting) {
      val pk = cfg.primaryKey.getOrElse(detectPk(df))
      scala.util.Try(Connectors.read(spark, cfg.target, cfg.targetOptions))
        .foreach { target =>
          val keys = try target.select(pk) catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw graft.core.GraftError.Configuration(
                s"skipExisting: target ${cfg.target} has no key column '$pk'", e)
          }
          df = df.join(keys, Seq(pk), "left_anti")
        }
    }
    df
  }

  /** PK-candidate heuristic (odbc.rs:196-203), shared with the JDBC
    * partitioned-scan path. */
  private def detectPk(df: DataFrame): String =
    Connectors.pkCandidate(df.schema).getOrElse(
      throw graft.core.GraftError.Configuration(
        "skipExisting requires primaryKey (no id-like integer column found)"))

  /** Execute the copy (write path). Row stats come from
    * [[Connectors.countedWrite]], riding each write job itself (U4) —
    * one pass, no re-read of the written target, no second scan of the
    * source. A CSV source is typed from one bounded driver-side read of
    * its first rows, read sequentially as the reference reads its
    * sample ([[graft.infer.CellInference.rawCsv]]), so no Spark job
    * precedes the writes. With a quarantine target the two routes fork
    * from ONE scan through a row cache that keeps its lineage: the
    * annotated frame's rows ([[Validation.annotate]]: typed source plus
    * `_violations`) are persisted as an RDD at MEMORY_AND_DISK, the
    * quarantine write runs first and fills the cache, the valid write
    * reads the cached rows instead of parsing, typing and checking the
    * source again (a lost block is recomputed from the source), and a
    * `finally` drops the cache whether the writes succeed or fail.
    * Preview, dry-run and the non-quarantine path stay lazy. */
  def execute(spark: SparkSession): TransferStats = {
    val t0 = System.nanoTime()
    val src = source(spark)
    val (rows, rejected) = cfg.quarantine match {
      case Some(target) =>
        val sf = SchemaFile.fromFile(cfg.schemaFile.get)
        val annotated = Validation.annotate(src, sf)
        val rows = annotated.queryExecution.toRdd.map(_.copy())
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val (valid, invalid) = Validation.quarantine(
            GraftBridge.dataFrame(spark, rows, annotated.schema), sf)
          // dead-letter write: the INVALID route — raw source typing
          // plus `_violations` flattened to a '|'-joined string
          // (portable across every sink, CSV included), written BEFORE
          // the main transfer so a failing main write still leaves the
          // rejects inspectable
          val flat = invalid.withColumn("_violations",
            concat_ws("|", col("_violations")))
          val rejected = Connectors.countedWrite(flat, s"quarantine $target")(
            Connectors.write(_, target, cfg.truncate))
          (writeTarget(spark, valid), rejected)
        } finally rows.unpersist()
      case None => (writeTarget(spark, validated(src)), 0L)
    }
    TransferStats(rows, (System.nanoTime() - t0) / 1e9, rejected)
  }

  /** The main write: transform stages, then the decimal-mode cast. */
  private def writeTarget(spark: SparkSession, df: DataFrame): Long =
    Connectors.countedWrite(exactDecimals(applyTransforms(spark, df)),
      cfg.target)(Connectors.write(_, cfg.target, cfg.truncate,
      cfg.targetOptions))

  /** Write-boundary cast for `decimalMode = "exact"`: every floating
    * column becomes [[graft.core.TinyType.TDecimal.exact]]
    * (DecimalType(38,18)) so the sink's declared SQL DECIMAL holds exact
    * digits. A no-op (same frame, no extra projection) in the default
    * double mode.
    *
    * DECIMAL(38,18) cannot represent NaN, ±Infinity, or |x| >= 1e20;
    * the plain (non-ANSI) cast would null those silently — an opt-in
    * "exact" mode that corrupts extremes the default double mode
    * preserves. Fail fast instead (U8 semantics), naming column and
    * value. Nulls pass through: only a non-null input that the cast
    * nulls is an error. */
  private def exactDecimals(df: DataFrame): DataFrame =
    if (cfg.decimalMode != "exact") df
    else {
      import org.apache.spark.sql.functions.{concat, lit, raise_error, when}
      import org.apache.spark.sql.types.{DoubleType, FloatType}
      val floating = df.schema.fields
        .filter(f => f.dataType == DoubleType || f.dataType == FloatType)
      if (floating.isEmpty) df
      else df.withColumns(floating.map { f =>
        val c = col(f.name)
        // try_cast (not cast): under ANSI the plain cast throws a raw
        // Spark error on overflow but still NULLs NaN/Infinity; with
        // ANSI off it NULLs all three. try_cast nulls uniformly, so the
        // guard below owns the whole failure surface with one typed error.
        val cast = c.try_cast(graft.core.TinyType.TDecimal.exact)
        f.name -> when(c.isNotNull && cast.isNull,
          raise_error(concat(
            lit(s"decimal mode exact: column '${f.name}' value "),
            c.cast("string"),
            lit(" is not representable as DECIMAL(38,18) (NaN/Infinity/overflow)")))
            .cast(graft.core.TinyType.TDecimal.exact))
          .otherwise(cast)
      }.toMap)
    }

  /** Preview (U2, transfer.rs:201-316): original-schema box, transformed
    * schema when a transform is configured, then the first N rows in the
    * reference's fixed-width table — no write. */
  def preview(spark: SparkSession, n: Int = 10): String = {
    val src = validated(source(spark)) // both sections derive from it
    val df = applyTransforms(spark, src)
    val sb = new StringBuilder
    sb.append("\nOriginal Schema Preview:\n")
    sb.append(PreviewFormat.schemaBox(src.schema))
    if (cfg.transform != TransformSpec()) {
      sb.append("\nApplying transformations...\n")
      sb.append("\nTransformed Schema Preview:\n")
      sb.append(PreviewFormat.schemaBox(df.schema))
    }
    sb.append(s"\nData Preview ($n rows):\n")
    sb.append(PreviewFormat.dataTable(df.columns, df.limit(n).collect()))
    sb.toString
  }

  /** Dry run (U3, transfer.rs:318-368): connections, schema, 10-row
    * transform smoke test — no write. Returns the resolved schema. */
  def dryRun(spark: SparkSession): org.apache.spark.sql.types.StructType = {
    val df = plan(spark)
    df.limit(10).collect() // smoke-execute the head of the pipeline
    df.schema
  }

}

/** Box-drawing renderers mirroring the reference's preview layout
  * (transfer.rs:242-316): a fixed-width schema table (19/13/8 columns)
  * and a 15-wide-cell data table with values truncated to 15 chars and
  * NULL for nulls. */
object PreviewFormat {

  def schemaBox(schema: org.apache.spark.sql.types.StructType): String = {
    val sb = new StringBuilder
    sb.append("┌─────────────────────┬───────────────┬──────────┐\n")
    sb.append("│ Column              │ Type          │ Nullable │\n")
    sb.append("├─────────────────────┼───────────────┼──────────┤\n")
    schema.fields.foreach { f =>
      val tpe = graft.core.TinyType.fromSpark(f.dataType, f.metadata).name
      sb.append(String.format("│ %-19s │ %-13s │ %-8s │%n",
        f.name, tpe, f.nullable.toString))
    }
    sb.append("└─────────────────────┴───────────────┴──────────┘\n")
    sb.toString
  }

  def dataTable(headers: Seq[String],
                rows: Seq[org.apache.spark.sql.Row]): String = {
    if (rows.isEmpty) return "No data to display\n"
    val sb = new StringBuilder
    def border(l: String, m: String, r: String): Unit = {
      sb.append(l)
      headers.indices.foreach { i =>
        sb.append("─────────────────")
        if (i < headers.length - 1) sb.append(m)
      }
      sb.append(r).append('\n')
    }
    def line(cells: Seq[String]): Unit = {
      sb.append("│")
      cells.foreach(c => sb.append(String.format(" %-15s │", c.take(15))))
      sb.append('\n')
    }
    border("┌", "┬", "┐")
    line(headers)
    border("├", "┼", "┤")
    rows.foreach { r =>
      line(r.toSeq.map(v => if (v == null) "NULL" else v.toString))
    }
    border("└", "┴", "┘")
    sb.toString
  }
}
