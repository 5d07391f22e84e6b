package graft.functions

import graft.SparkSpec

class UnicodeExprsSpec extends SparkSpec {
  import spark.implicits._

  // decomposed inputs built from explicit code points
  private val nfdCafe = "cafe\u0301"          // e + combining acute
  private val nfcCafe = "caf\u00E9"           // é precomposed
  private val nfdUml = "Zu\u0308rich"
  private val nfcUml = "Z\u00FCrich"

  test("nfc/nfkc: composition, compatibility folding, null and fast paths") {
    val d = Seq(
      (1L, nfdCafe),
      (2L, nfcCafe),                           // already NFC → untouched
      (3L, s"$nfdUml \uFB01ne \uFF21BC"),    // fi-ligature + full-width A
      (4L, null.asInstanceOf[String]),
      (5L, "plain ascii")
    ).toDF("id", "t")
    val out = d.select($"id", UnicodeExprs.nfc($"t").as("nfc"),
        UnicodeExprs.nfkc($"t").as("nfkc"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(out(1L)._1 == nfcCafe && out(1L)._2 == nfcCafe)
    assert(out(2L)._1 == nfcCafe)
    // NFC composes the umlaut but PRESERVES compatibility chars;
    // NFKC additionally folds the ligature and full-width letter
    assert(out(3L)._1 == s"$nfcUml \uFB01ne \uFF21BC")
    assert(out(3L)._2 == s"$nfcUml fine ABC")
    assert(out(4L) == ((null, null)))
    assert(out(5L)._1 == "plain ascii")

    // interpreted eval agrees with the codegen path (same expression
    // evaluated directly vs through the generated projection)
    val expr = UnicodeExprs.UnicodeNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(nfdCafe)), "NFC")
    assert(expr.eval(null).toString == nfcCafe)
  }

  test("sql registration: unicode_normalize(text[, form]) with loud misuse") {
    UnicodeExprs.register(spark)
    Seq((1L, nfdCafe)).toDF("id", "t").createOrReplaceTempView("uni_sql")
    val got = spark.sql(
      "SELECT unicode_normalize(t) AS a, unicode_normalize(t, 'NFKC') AS b FROM uni_sql")
      .head
    assert(got.getString(0) == nfcCafe && got.getString(1) == nfcCafe)
    intercept[graft.core.GraftError.Configuration](
      spark.sql("SELECT unicode_normalize(t, 'NFX') FROM uni_sql").collect())
    intercept[graft.core.GraftError.Configuration](
      spark.sql("SELECT unicode_normalize(t, t) FROM uni_sql").collect())
  }

  test("script profile: hand-counted codepoints, priority, dominant ties") {
    val d = Seq(
      // 3 latin, 3 cyrillic, 2 han, 1 digit, 2 space, 1 other (!)
      (1L, "abc АБВ 中文 5!"),
      (2L, "あカ"),                    // hiragana + katakana → kana 2
      (3L, "०१"),                    // Devanagari DIGITS: script wins over Nd
      (4L, "12 34"),                           // digits + space, no script → none
      (5L, "אا"),                    // hebrew + arabic, tie → arabic
      (6L, ""),
      (7L, null.asInstanceOf[String]),
      // astral Han (surrogate pair) counts ONE codepoint
      (8L, new String(Character.toChars(0x20000)))
    ).toDF("id", "t")
    val out = d.select($"id", UnicodeExprs.scriptProfile($"t").as("p"))
      .select($"id", $"p.*").collect()
      .map(r => r.getLong(0) -> r).toMap

    val r1 = out(1L)
    assert(r1.getAs[Long]("n_chars") == 13L)
    assert(r1.getAs[Long]("latin") == 3L && r1.getAs[Long]("cyrillic") == 3L)
    assert(r1.getAs[Long]("han") == 2L && r1.getAs[Long]("digit") == 1L)
    assert(r1.getAs[Long]("space") == 3L && r1.getAs[Long]("other") == 1L)
    assert(r1.getAs[String]("dominant") == "cyrillic") // 3-3 tie, alphabetical

    assert(out(2L).getAs[Long]("kana") == 2L &&
      out(2L).getAs[String]("dominant") == "kana")
    // script precedence: Devanagari digits are script, not Nd
    assert(out(3L).getAs[Long]("devanagari") == 2L &&
      out(3L).getAs[Long]("digit") == 0L)
    assert(out(4L).getAs[Long]("digit") == 4L &&
      out(4L).getAs[String]("dominant") == "none")
    assert(out(5L).getAs[String]("dominant") == "arabic")
    assert(out(6L).getAs[Long]("n_chars") == 0L &&
      out(6L).getAs[String]("dominant") == "none")
    assert(out(7L).isNullAt(out(7L).fieldIndex("n_chars"))) // null in → null out
    assert(out(8L).getAs[Long]("n_chars") == 1L &&
      out(8L).getAs[Long]("han") == 1L)
  }
}
