package graft.functions

import java.text.ParseException
import java.time.DateTimeException

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Ordered multi-format date parsing as one native codegen'd expression.
  *
  * The generic spelling, a `coalesce` over one null-on-failure
  * `GetTimestamp(trim(c), f)` per format (Spark's try-to-timestamp
  * function), trims the cell once per format and lets every format
  * before the match throw and catch a `DateTimeParseException` — an ISO
  * date pays six exceptions, `Mar 15, 1995` fourteen. [[ParseDateChain]]
  * trims once, skips every format whose required literal characters
  * are missing from the cell ([[LiteralGuard]]), and runs the remaining
  * formats in order with the formatters `GetTimestamp` builds. */
object DateExprs {

  /** An ordered pattern list and the literal characters each pattern
    * requires: unquoted non-letters and quoted text (`'T'`). A string a
    * pattern parses contains each of its literals, compared the way
    * `java.time` compares them under `parseCaseInsensitive` (which
    * Spark's formatters and the driver-side mirror both use), so
    * skipping a pattern whose literals are missing never changes which
    * pattern matches first. */
  final case class LiteralGuard(patterns: Seq[String]) {

    private val literals: Seq[Seq[Char]] = patterns.map(LiteralGuard.literalsOf)
    private val alphabet: Array[Char] = literals.flatten.distinct.toArray
    require(alphabet.length <= 32, s"more than 32 distinct literals in $patterns")

    /** Per pattern: bit `i` set when `alphabet(i)` must appear. */
    private val required: Array[Int] = literals.map(_.foldLeft(0)((m, c) =>
      m | 1 << alphabet.indexOf(c))).toArray

    private def bitsOf(c: Char): Int = {
      var bits = 0
      var i = 0
      while (i < alphabet.length) {
        if (LiteralGuard.sameChar(c, alphabet(i))) bits |= 1 << i
        i += 1
      }
      bits
    }

    private val asciiBits: Array[Int] = Array.tabulate(128)(c => bitsOf(c.toChar))

    /** The literals present in `s`, as a mask for [[admits]]. */
    def present(s: String): Int = {
      var m = 0
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        m |= (if (c < 128) asciiBits(c) else bitsOf(c))
        i += 1
      }
      m
    }

    /** May `patterns(i)` parse a string whose literals are `present`? */
    def admits(i: Int, present: Int): Boolean = (required(i) & ~present) == 0
  }

  object LiteralGuard {
    /** `java.time`'s case-insensitive character comparison
      * (`DateTimeParseContext.charEqualsIgnoreCase`). */
    private def sameChar(a: Char, b: Char): Boolean =
      a == b || Character.toUpperCase(a) == Character.toUpperCase(b) ||
        Character.toLowerCase(a) == Character.toLowerCase(b)

    private def literalsOf(pattern: String): Seq[Char] = {
      require(!pattern.exists(c => c == '[' || c == ']'),
        s"optional sections have no required literals: '$pattern'")
      val out = Seq.newBuilder[Char]
      var quoted = false
      var i = 0
      while (i < pattern.length) {
        val c = pattern.charAt(i)
        if (c == '\'') {
          // '' is a literal quote, inside quoted text or outside it
          if (i + 1 < pattern.length && pattern.charAt(i + 1) == '\'') {
            out += c
            i += 1
          } else quoted = !quoted
        } else if (quoted || !((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')))
          out += c
        i += 1
      }
      out.result()
    }
  }

  /** Marks "no format matched" in [[ParseDateChain.parse]]. No parse
    * reaches it: the formatters compute `seconds * 1e6 + micros` with
    * overflow checks and `micros >= 0`, so the least result is
    * `-9223372036854000000`. */
  private val NoMatch = Long.MinValue

  /** `guard.patterns` tried in order on the trimmed cell, first success
    * wins, null when none parses. The result equals the `coalesce` of
    * null-on-failure `GetTimestamp(trim(c), p)` cell for cell: the
    * same `UTF8String.trim()`, the same `TimestampFormatter` per
    * pattern (so `timeParserPolicy` still applies), the same exceptions
    * turned into null, and the session time zone filled in by the
    * analyzer. The result type is TIMESTAMP, the type tiny dates map
    * to. */
  case class ParseDateChain(child: Expression, guard: LiteralGuard,
                            timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes a string, got ${child.dataType.simpleString}")
    override def dataType: DataType = TimestampType
    override def nullable: Boolean = true
    override def prettyName: String = "parse_date_chain"
    // the pattern list stays out of plan strings
    override protected def flatArguments: Iterator[Any] = Iterator(child)

    override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
      copy(timeZoneId = Some(timeZoneId))

    @transient private lazy val formatters: Array[TimestampFormatter] =
      guard.patterns.map(p => TimestampFormatter(p, zoneId,
        LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = true)).toArray

    /** Microseconds since the epoch, or [[NoMatch]]. */
    def parse(cell: UTF8String): Long = {
      val s = cell.trim().toString
      val present = guard.present(s)
      var i = 0
      while (i < formatters.length) {
        if (guard.admits(i, present)) {
          // the set ToTimestamp turns into null (DateTimeParseException
          // is a DateTimeException); anything else propagates
          try return formatters(i).parse(s)
          catch { case _: DateTimeException | _: ParseException => }
        }
        i += 1
      }
      NoMatch
    }

    protected override def nullSafeEval(input: Any): Any = {
      val micros = parse(input.asInstanceOf[UTF8String])
      if (micros == NoMatch) null else micros
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("dateChain", this, classOf[ParseDateChain].getName)
      val micros = ctx.freshName("micros")
      nullSafeCodeGen(ctx, ev, c =>
        s"""long $micros = $ref.parse($c);
           |if ($micros == ${NoMatch}L) { ${ev.isNull} = true; }
           |else { ${ev.value} = $micros; }""".stripMargin)
    }

    override protected def withNewChildInternal(c: Expression): ParseDateChain =
      copy(child = c)
  }

  def parseDateChain(c: Column, guard: LiteralGuard): Column =
    GraftBridge.column(ParseDateChain(GraftBridge.expression(c), guard))
}
