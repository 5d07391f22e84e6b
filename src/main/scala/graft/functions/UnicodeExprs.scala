package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.types._
import org.apache.spark.sql.GraftBridge
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization as a native codegen'd expression. Spark has no
  * built-in normalizer, and a Scala UDF here would fall out of
  * whole-stage codegen on exactly the hot path (every document, before
  * hashing); this stays a one-call scalar inside the generated code.
  *
  * Why it exists: content-hash dedup treats `café` (NFC) and `café`
  * (e + combining acute, NFD) as DIFFERENT documents — normalizing
  * before hashing is the standard fix, and crawls mix both forms
  * freely. NFC is the web's canonical form (and DuckDB's
  * `nfc_normalize` replays it in the oracle); NFKC additionally folds
  * compatibility characters (ligatures, full-width forms) and is the
  * aggressive-cleaning option, unit-pinned. */
object UnicodeExprs {

  case class UnicodeNormalize(child: org.apache.spark.sql.catalyst.expressions.Expression,
                              form: String)
    extends UnaryExpression {

    private val normalizerForm = java.text.Normalizer.Form.valueOf(form)

    override def dataType: DataType = StringType
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "unicode_normalize"

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("norm", this, classOf[UnicodeNormalize].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.normalize($c);")
    }

    protected override def nullSafeEval(input: Any): Any =
      normalize(input.asInstanceOf[UTF8String])

    def normalize(s: UTF8String): UTF8String = {
      val str = s.toString
      // fast path: already-normalized text (the overwhelming majority)
      // skips the rebuild and returns the input buffer untouched
      if (java.text.Normalizer.isNormalized(str, normalizerForm)) s
      else UTF8String.fromString(
        java.text.Normalizer.normalize(str, normalizerForm))
    }

    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression): UnicodeNormalize =
      copy(child = c)
  }

  /** NFC (canonical composition — the web's standard form). */
  def nfc(c: Column): Column =
    GraftBridge.column(UnicodeNormalize(GraftBridge.expression(c), "NFC"))

  /** NFKC (compatibility composition — also folds ligatures and
    * full-width forms; more aggressive, not byte-preserving for
    * stylistic variants). */
  def nfkc(c: Column): Column =
    GraftBridge.column(UnicodeNormalize(GraftBridge.expression(c), "NFKC"))

  /** One-pass Unicode script profile — the writing-system signal the
    * stopword language-ID cannot see: stopword lists only separate
    * space-delimited Latin-script languages, while a CJK / Cyrillic /
    * Arabic document is identified by its SCRIPT before any
    * tokenization. Counts codepoints (not UTF-16 units) per script
    * class in one scan inside whole-stage codegen; per-script regex
    * strips would re-scan the document once per class — 10× the hot
    *-path cost at corpus scale.
    *
    * Classification priority per codepoint: one of the nine named
    * scripts (`Character.UnicodeScript`, matching RE2's `\p{Latin}`
    * family, so DuckDB replays each count) → decimal digit (Nd) →
    * ASCII whitespace → other. Script wins over Nd, so script-native
    * digits (Devanagari U+0966..) count as their script — profiles
    * over such text replay only if the oracle mirrors that precedence.
    * `dominant` is the alphabetically-first script achieving the
    * maximum count, `'none'` when no script codepoint exists. */
  case class ScriptProfile(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends UnaryExpression {

    override def dataType: DataType = StructType(
      Seq(StructField("n_chars", LongType, nullable = false)) ++
        scriptNames.map(s => StructField(s, LongType, nullable = false)) ++
        Seq(StructField("digit", LongType, nullable = false),
          StructField("space", LongType, nullable = false),
          StructField("other", LongType, nullable = false),
          StructField("dominant", StringType, nullable = false)))
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "script_profile"

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("prof", this, classOf[ScriptProfile].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.profile($c);")
    }

    def profile(u: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
      val s = u.toString
      val counts = new Array[Long](scriptNames.length)
      var digit = 0L
      var space = 0L
      var other = 0L
      var n = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        n += 1
        val sc = scriptOf(cp)
        if (sc >= 0) counts(sc) += 1
        else if (Character.getType(cp) == Character.DECIMAL_DIGIT_NUMBER)
          digit += 1
        else if (cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
                 cp == '\f' || cp == '\r') space += 1
        else other += 1
        i += Character.charCount(cp)
      }
      var best = -1
      var bestCount = 0L
      var j = 0
      while (j < counts.length) {
        // scriptNames is alphabetical, so strict > keeps the first
        if (counts(j) > bestCount) { best = j; bestCount = counts(j) }
        j += 1
      }
      val dominant = if (best < 0) "none" else scriptNames(best)
      val out = new Array[Any](counts.length + 5)
      out(0) = n
      System.arraycopy(counts.map(Long.box), 0, out, 1, counts.length)
      out(counts.length + 1) = digit
      out(counts.length + 2) = space
      out(counts.length + 3) = other
      out(counts.length + 4) = UTF8String.fromString(dominant)
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
    }

    protected override def nullSafeEval(input: Any): Any =
      profile(input.asInstanceOf[UTF8String])

    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression): ScriptProfile =
      copy(child = c)
  }

  /** Alphabetical — ties in `dominant` go to the first name, and the
    * struct field order matches. */
  private[functions] val scriptNames: IndexedSeq[String] = IndexedSeq(
    "arabic", "cyrillic", "devanagari", "greek", "han", "hangul",
    "hebrew", "kana", "latin")

  private val scriptIndex: Map[Character.UnicodeScript, Int] = {
    import Character.UnicodeScript._
    Map(ARABIC -> 0, CYRILLIC -> 1, DEVANAGARI -> 2, GREEK -> 3,
      HAN -> 4, HANGUL -> 5, HEBREW -> 6, HIRAGANA -> 7, KATAKANA -> 7,
      LATIN -> 8)
  }

  private[functions] def scriptOf(cp: Int): Int =
    scriptIndex.getOrElse(Character.UnicodeScript.of(cp), -1)

  /** Column surface: `struct(n_chars, arabic, cyrillic, devanagari,
    * greek, han, hangul, hebrew, kana, latin, digit, space, other,
    * dominant)`. */
  def scriptProfile(c: Column): Column =
    GraftBridge.column(ScriptProfile(GraftBridge.expression(c)))

  /** SQL surface: `unicode_normalize(text[, 'NFC'|'NFD'|'NFKC'|'NFKD'])`
    * (default NFC). The form must be a string literal — loud otherwise,
    * same contract as the sketch registrations. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "unicode_normalize", {
        case Seq(t) => UnicodeNormalize(t, "NFC")
        case Seq(t, f) =>
          val form = f match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, StringType)
                if v != null => v.toString.toUpperCase
            case other => throw graft.core.GraftError.Configuration(
              s"unicode_normalize form must be a string literal, got $other")
          }
          if (!Set("NFC", "NFD", "NFKC", "NFKD")(form))
            throw graft.core.GraftError.Configuration(
              s"unicode_normalize form must be NFC|NFD|NFKC|NFKD, got '$form'")
          UnicodeNormalize(t, form)
        case exprs => throw graft.core.GraftError.Configuration(
          s"unicode_normalize expects (text[, form]), got ${exprs.length} arguments")
      }, "scala_udf")
}
