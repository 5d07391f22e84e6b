package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's private[sql] API: the Column↔Expression
  * converters, so the engine's custom Catalyst expressions
  * (graft.functions) can surface as Columns; the CSV scan's line parser,
  * so typing samples rows on the driver as a scan task reads them; and
  * a frame over cached rows. Uses only the classic (non-Connect)
  * execution path, same as the rest of this library. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The CSV rows of `lines`, as `UnivocityParser.parseIterator` yields
    * them to a scan task. */
  def parseCsv(lines: Iterator[String], parser: UnivocityParser,
               checker: CSVHeaderChecker,
               schema: StructType): Iterator[InternalRow] =
    UnivocityParser.parseIterator(lines, parser, checker, schema)

  /** A frame whose rows are `rows`, planned as a plain RDD scan. */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow],
                schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
