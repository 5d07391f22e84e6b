package graft.validate

import graft.core.TinyType._
import graft.infer.DateFormats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row validation + typed defaults, as one distributed projection (V2,
  * `/root/reference/src/schema.rs:148-244`). Runs BEFORE transform
  * (transfer.rs:154-159).
  *
  * Per column, in the reference's order:
  *  1. required column present (plan-time error if absent);
  *  2. null + default → default; null + non-nullable + no default → row
  *     error;
  *  3. declared json → value must parse as JSON, else row error;
  *  4. type check: non-null value that can't convert to the declared
  *     type → row error (conversion itself is the multi-format date
  *     chain for dates, try_cast otherwise);
  *  5. `pattern` regex on string columns → non-matching row errors.
  *
  * Row errors are fail-fast via `raise_error` (SURVEY §4.3(4)) — the
  * Spark-shaped equivalent of the reference aborting the batch. All
  * checks are built-in expressions, so the whole validation is one
  * codegen'd projection over the scan: zero shuffles, scales linearly.
  */
object Validation {

  def apply(df: DataFrame, schema: SchemaFile, failFast: Boolean = true): DataFrame = {
    val present = df.columns.toSet
    val missing = schema.columns.filterNot(c => present(c.name))
    if (missing.nonEmpty)
      throw graft.core.GraftError.DataValidation(
        s"required columns missing from source: ${missing.map(_.name).mkString(", ")}")

    val checked = schema.columns.map { sc =>
      val c = col(s"`${sc.name}`")
      validatedColumn(c, sc, df.schema(sc.name).dataType, failFast).as(
        sc.name, sc.tpe.metadata)
    }
    // columns not in the schema file pass through untouched, after the
    // declared ones (schema order wins, mirroring Schema::columns order)
    val passthrough = df.columns.toSeq
      .filterNot(n => schema.columns.exists(_.name == n))
      .map(n => col(s"`$n`"))
    df.select(checked ++ passthrough: _*)
  }

  private def err(c: Column, msg: Column, failFast: Boolean): Column =
    if (failFast) raise_error(msg) else lit(null)

  /** The typed-conversion attempt shared by the fail-fast projection
    * and the quarantine annotator — ONE spelling of "does this value
    * convert", so the two modes can never disagree on what fails. */
  private def conversionOf(c0: Column, sc: SchemaColumn,
                           from: DataType): Column = sc.tpe match {
    case TDate | TDateTime if from == StringType => DateFormats.parseExpr(c0)
    case TJson => try_parse_json(c0.cast(StringType))
    case _ if from == sc.tpe.spark => c0
    case _ => c0.try_cast(sc.tpe.spark)
  }

  /** Per-row violation reasons instead of aborts: original columns
    * plus `_violations` (array of stable reason strings, EMPTY when
    * the row passes). Reason order is deterministic — schema column
    * order, then check order (required-null, invalid-json,
    * type-conversion, pattern) — so downstream routing and the SQL
    * oracle can replay it. The checks are the same expressions the
    * fail-fast projection compiles (via [[conversionOf]]); like it,
    * this is one codegen'd projection, zero shuffles. */
  def annotate(df: DataFrame, schema: SchemaFile): DataFrame = {
    val present = df.columns.toSet
    val missing = schema.columns.filterNot(c => present(c.name))
    if (missing.nonEmpty)
      throw graft.core.GraftError.DataValidation(
        s"required columns missing from source: ${missing.map(_.name).mkString(", ")}")
    require(!df.columns.contains("_violations"),
      "'_violations' is reserved by Validation.annotate")
    val reasons: Seq[Column] = schema.columns.flatMap { sc =>
      val c0 = col(s"`${sc.name}`")
      val from = df.schema(sc.name).dataType
      val conv = conversionOf(c0, sc, from)
      val requiredNull =
        if (!sc.nullable && sc.typedDefault.isEmpty)
          Some(when(c0.isNull,
            lit(s"required column '${sc.name}' is null")))
        else None
      val badJson = sc.tpe match {
        case TJson => Some(when(c0.isNotNull && conv.isNull,
          lit(s"column '${sc.name}' contains invalid JSON")))
        case _ => None
      }
      val badType = sc.tpe match {
        case TJson => None
        case _ => Some(when(c0.isNotNull && conv.isNull,
          lit(s"column '${sc.name}' expected ${sc.tpe.name}")))
      }
      val badPattern = sc.pattern match {
        case Some(p) if sc.tpe == TString =>
          val eff = sc.typedDefault match {
            case Some(d) => when(c0.isNull, lit(d).cast(StringType))
              .otherwise(conv)
            case None => conv
          }
          Some(when(eff.isNotNull && !eff.rlike(p),
            lit(s"column '${sc.name}' does not match pattern '$p'")))
        case _ => None
      }
      Seq(requiredNull, badJson, badType, badPattern).flatten
    }
    val arr =
      if (reasons.isEmpty) array().cast("array<string>")
      else filter(array(reasons: _*), r => r.isNotNull)
    df.withColumn("_violations", arr)
  }

  /** Quarantine split (dead-letter pattern) of an [[annotate]]d frame:
    * (valid rows, typed via the same projection as [[apply]] — which
    * cannot fail, every violating row was routed away; invalid RAW
    * rows + `_violations`). Two filters over one plan: a caller that
    * consumes both sides caches the annotated rows first, as
    * [[graft.engine.TransferEngine.execute]] does, so the source is
    * scanned and checked once. */
  def quarantine(annotated: DataFrame, schema: SchemaFile)
      : (DataFrame, DataFrame) = {
    val valid = apply(
      annotated.where(size(col("_violations")) === 0).drop("_violations"),
      schema, failFast = true)
    val invalid = annotated.where(size(col("_violations")) > 0)
    (valid, invalid)
  }

  private def validatedColumn(c0: Column, sc: SchemaColumn, from: DataType,
                              failFast: Boolean): Column = {
    // 3+4. typed conversion of the raw value (lenient; nulls mark
    // failure) — the attempt itself is conversionOf, shared with the
    // quarantine annotator
    val target = sc.tpe.spark
    val conv = conversionOf(c0, sc, from)
    val converted: Column = sc.tpe match {
      case TJson =>
        // string must parse as JSON (schema.rs:168-189); keep as string
        when(c0.isNotNull && conv.isNull,
          err(c0, concat(lit(s"Validation error: column '${sc.name}' " +
            s"contains invalid JSON: "), c0.cast(StringType)), failFast))
          .otherwise(c0.cast(StringType))
      case _ => conv
    }

    // conversion failure of a NON-NULL value is a row error (schema.rs:201-231)
    val typeChecked = sc.tpe match {
      case TJson => converted
      case _ =>
        when(c0.isNotNull && converted.isNull,
          err(c0, concat(
            lit(s"Validation error: column '${sc.name}' expected ${sc.tpe.name}, got: "),
            c0.cast(StringType)), failFast).cast(target))
          .otherwise(converted)
    }

    // 2. defaults fill nulls; null + non-nullable + no default is a row
    //    error (schema.rs:148-165)
    val withDefault = sc.typedDefault match {
      case Some(d) => when(c0.isNull, lit(d).cast(target)).otherwise(typeChecked)
      case None if !sc.nullable =>
        when(c0.isNull, err(c0, concat(
          lit(s"Validation error: required column '${sc.name}' is null")),
          failFast).cast(target)).otherwise(typeChecked)
      case None => typeChecked
    }
    val checked = withDefault

    // 5. pattern (string columns only, schema.rs:233-241)
    sc.pattern match {
      case Some(p) if sc.tpe == TString =>
        when(checked.isNotNull && !checked.rlike(p),
          err(checked, concat(
            lit(s"Validation error: column '${sc.name}' value does not match pattern '$p': "),
            checked.cast(StringType)), failFast).cast(StringType))
          .otherwise(checked)
      case _ => checked
    }
  }

  private def concat(cols: Column*): Column =
    org.apache.spark.sql.functions.concat(cols: _*)
}
