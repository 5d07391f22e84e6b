package graft.infer

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder, ResolverStyle}
import java.util.Locale

import graft.functions.DateExprs

import org.apache.spark.sql.Column

/** Ordered multi-format date/datetime parsing.
  *
  * Behavior modeled on the reference's `DateParser::try_parse`
  * (`/root/reference/src/date_parser.rs:11-116`): RFC3339 → ISO w/o tz
  * (assume UTC) → 12 date-only formats → 13 datetime formats. The
  * ambiguity rule (US month-first `M/d/yyyy` tried BEFORE `d/M/yyyy`,
  * date_parser.rs:67-68) is preserved exactly — oracle hashes depend
  * on it.
  *
  * Exposed two ways from one format list and one [[guard]]:
  *  - [[parseExpr]]: the native `ParseDateChain` kernel (DateExprs) —
  *    codegen'd, distributed, no UDF. It trims each cell once, skips
  *    every format whose required literal characters the cell lacks,
  *    and parses the rest in order with the formatters of Spark's own
  *    try-to-timestamp function, so it equals a `coalesce` of those
  *    calls on `trim(c)` cell for cell without an exception per format
  *    that fails.
  *  - [[tryParse]]: driver-side Scala parsing for sampled schema
  *    inference (bounded at 1000 rows, so driver-side is scale-safe),
  *    skipping formats by the same literal table.
  */
object DateFormats {

  /** ISO 8601 / RFC3339 with explicit offset ('Z', '+00:00', '-05:00'). */
  val isoTz: Seq[String] = Seq(
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
  )

  /** ISO 8601 without timezone — assume UTC (date_parser.rs:44-60). */
  val isoNoTz: Seq[String] = Seq(
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
  )

  /** Date-only formats, midnight UTC. Order is semantic (month-first
    * before day-first). Single-letter M/d/H accept 1-2 digits, matching
    * chrono's lenient field widths. */
  val dateOnly: Seq[String] = Seq(
    "yyyy-M-d",
    "M/d/yyyy",
    "d/M/yyyy",
    "M-d-yyyy",
    "d-M-yyyy",
    "yyyy/M/d",
    "d.M.yyyy",
    "yyyy.M.d",
    "MMM d, yyyy",
    "MMMM d, yyyy",
    "d MMM yyyy",
    "d MMMM yyyy"
  )

  /** Datetime-without-timezone formats, assume UTC. */
  val dateTime: Seq[String] = Seq(
    "yyyy-M-d H:mm:ss",
    "yyyy-M-d H:mm:ss.SSS",
    "M/d/yyyy H:mm:ss",
    "d/M/yyyy H:mm:ss",
    "yyyy-M-d H:mm",
    "M/d/yyyy H:mm",
    "d/M/yyyy H:mm",
    "yyyy-M-d h:mm:ss a",
    "M/d/yyyy h:mm:ss a",
    "d/M/yyyy h:mm:ss a",
    "yyyy-M-d h:mm a",
    "M/d/yyyy h:mm a",
    "d/M/yyyy h:mm a"
  )

  val all: Seq[String] = isoTz ++ isoNoTz ++ dateOnly ++ dateTime

  /** The literal characters each format of [[all]] requires. */
  private val guard: DateExprs.LiteralGuard = DateExprs.LiteralGuard(all)

  /** Distributed parse: first format that succeeds wins, null if none. */
  def parseExpr(c: Column): Column = DateExprs.parseDateChain(c, guard)

  /** Quick heuristic prefilter (mirrors date_parser.rs:120-173): a cell
    * must contain a digit and a date-ish separator to be worth the full
    * parse chain. Driver-side only. */
  def mightBeDate(s: String): Boolean = {
    val t = s.trim
    t.length >= 6 && t.length <= 40 &&
      t.exists(_.isDigit) &&
      (t.exists(c => c == '-' || c == '/' || c == '.' || c == ':') ||
        t.exists(_.isLetter))
  }

  // --- driver-side mirror (for sampled inference + property tests) ---

  private def fmt(pattern: String): DateTimeFormatter =
    new DateTimeFormatterBuilder()
      .parseCaseInsensitive()
      .appendPattern(pattern.replace("yyyy", "uuuu"))
      .toFormatter(Locale.US)
      .withResolverStyle(ResolverStyle.STRICT)

  /** A group's formatters, each with its index in [[all]]. */
  private def indexed(group: Seq[String]): Seq[(Int, DateTimeFormatter)] =
    group.map(p => (all.indexOf(p), fmt(p)))

  private lazy val isoTzF = indexed(isoTz)
  private lazy val isoNoTzF = indexed(isoNoTz)
  private lazy val dateOnlyF = indexed(dateOnly)
  private lazy val dateTimeF = indexed(dateTime)

  private def attempt[T](fs: Seq[(Int, DateTimeFormatter)], s: String,
      present: Int)(parse: (DateTimeFormatter, String) => T): Option[T] =
    fs.iterator.filter { case (i, _) => guard.admits(i, present) }.flatMap {
      case (_, f) =>
        try Some(parse(f, s))
        catch { case _: Exception => None }
    }.nextOption()

  /** Driver-side equivalent of [[parseExpr]] for a single cell. */
  def tryParse(value: String): Option[Instant] = {
    val s = value.trim
    if (s.isEmpty || !mightBeDate(s)) return None
    val present = guard.present(s)
    attempt(isoTzF, s, present)((f, v) => Instant.from(f.parse(v)))
      .orElse(attempt(isoNoTzF, s, present)((f, v) =>
        LocalDateTime.parse(v, f).toInstant(ZoneOffset.UTC)))
      .orElse(attempt(dateOnlyF, s, present)((f, v) =>
        LocalDate.parse(v, f).atStartOfDay.toInstant(ZoneOffset.UTC)))
      .orElse(attempt(dateTimeF, s, present)((f, v) =>
        LocalDateTime.parse(v, f).toInstant(ZoneOffset.UTC)))
  }

  /** Was the matching format date-only (no time-of-day fields)? Used to
    * declare Date vs DateTime in inferred schemas. */
  def isDateOnly(value: String): Boolean = {
    val s = value.trim
    val present = guard.present(s)
    attempt(isoTzF ++ isoNoTzF, s, present)((f, v) => f.parse(v)).isEmpty &&
      attempt(dateOnlyF, s, present)((f, v) => LocalDate.parse(v, f)).isDefined
  }
}
