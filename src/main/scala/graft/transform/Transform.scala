package graft.transform

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.types.{DataType, StructType}

/** The reference's single user-programmable operator, re-expressed as
  * declarative plan building (SURVEY §2.C).
  *
  * Modes (TransformConfig, `/root/reference/src/transformer.rs:13-28`):
  *  - [[inline]]  — `--transform "c1=expr; c2=expr"`: all input columns
  *    preserved, assignments applied left-to-right, each assignment sees
  *    the ORIGINAL row (generated Lua copies the input row first,
  *    transformer.rs:184-220).
  *  - [[script]]  — YAML `type: script`: each line `name = expr` becomes
  *    a local visible to later lines AND an output column
  *    (transformer.rs:224-279); `#`/`--` comments skipped.
  *  - [[filter]]  — Lua-file `return nil` row-dropping (transformer.rs:
  *    340-357) as a predicate; inline mode never filters (README.md:600).
  *  - [[rowFn]]   — escape hatch for arbitrary row logic that the
  *    expression language can't express (Lua-file parity): a typed map
  *    over Dataset[Row], distributed, no driver materialization.
  *
  * Output schema is the analyzed plan's schema — statically known,
  * strictly better than the reference's "re-infer from first transformed
  * row" (transformer.rs:433-461); the divergence is documented in
  * SURVEY §7.5(2).
  */
object Transform {

  final case class Assignment(name: String, expr: String)

  private val NameRe = "[A-Za-z_][A-Za-z0-9_]*".r

  /** Split `"c1=expr; c2=expr"` into assignments, respecting quotes
    * (a ';' inside a string literal is not a separator). Column names
    * validated like transformer.rs:199-205. */
  def parseAssignments(src: String, sep: Char = ';'): Seq[Assignment] = {
    val parts = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var quote: Char = 0
    src.foreach { ch =>
      if (quote != 0) { cur += ch; if (ch == quote) quote = 0 }
      else if (ch == '\'' || ch == '"') { quote = ch; cur += ch }
      else if (ch == sep) { parts += cur.toString; cur.clear() }
      else cur += ch
    }
    if (cur.toString.trim.nonEmpty) parts += cur.toString
    parts.toSeq.map(_.trim).filter(_.nonEmpty).map { stmt =>
      val eq = indexOfTopLevelEq(stmt)
      if (eq <= 0)
        throw graft.core.GraftError.Transform(s"transform statement must be name=expr: $stmt")
      val name = stmt.substring(0, eq).trim
      if (!NameRe.matches(name))
        throw graft.core.GraftError.Transform(s"invalid column name '$name'")
      Assignment(name, stmt.substring(eq + 1).trim)
    }
  }

  /** First '=' that is an assignment (not ==, ~=, <=, >=). */
  private def indexOfTopLevelEq(s: String): Int = {
    var i = 0
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"') quote = c
      else if (c == '=') {
        val prev = if (i > 0) s.charAt(i - 1) else ' '
        val nxt = if (i + 1 < s.length) s.charAt(i + 1) else ' '
        if (prev != '=' && prev != '~' && prev != '<' && prev != '>' && nxt != '=')
          return i
      }
      i += 1
    }
    -1
  }

  private def schemaMap(df: DataFrame): Map[String, DataType] =
    df.schema.fields.map(f => f.name -> f.dataType).toMap

  /** Inline mode: every assignment references the original input row. */
  def inline(df: DataFrame, spec: String): DataFrame = {
    val assigns = parseAssignments(spec)
    val schema = schemaMap(df)
    val cols = assigns.map(a => a.name -> ExprLang.compile(a.expr, Map.empty, schema))
    df.withColumns(cols.toMap)
  }

  /** Script mode: later lines see earlier locals (transformer.rs:224-279). */
  def script(df: DataFrame, scriptSrc: String): DataFrame = {
    val lines = scriptSrc.linesIterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && !l.startsWith("--"))
      .toSeq
    val assigns = lines.map(l => parseAssignments(l) match {
      case Seq(a) => a
      case other  => throw graft.core.GraftError.Transform(s"bad script line: $l ($other)")
    })
    val schema = schemaMap(df)
    var locals = Map.empty[String, Column]
    var localTypes = Map.empty[String, Option[DataType]]
    var out = df
    assigns.foreach { a =>
      val node = ExprLang.parse(a.expr)
      val c = ExprLang.toColumn(node, locals, schema, localTypes)
      out = out.withColumn(a.name, c)
      locals += (a.name -> org.apache.spark.sql.functions.col(s"`${a.name}`"))
      localTypes += (a.name -> out.schema.fields.find(_.name == a.name).map(_.dataType))
    }
    out
  }

  /** Row filter: keep rows where the condition is truthy (Lua-file
    * `return nil` drop semantics as a predicate). */
  def filter(df: DataFrame, condExpr: String): DataFrame =
    df.filter(ExprLang.compilePredicate(condExpr, schemaMap(df)))

  /** Escape hatch: arbitrary per-row logic, `None` drops the row (the
    * Lua-file contract, transformer.rs:340-357). Distributed map — use
    * only when the expression language genuinely can't express it. */
  def rowFn(df: DataFrame, outSchema: StructType)(fn: Row => Option[Row]): DataFrame = {
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(outSchema)
    df.flatMap(r => fn(r))(enc)
  }
}
