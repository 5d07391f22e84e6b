package graft.validate

import graft.SparkSpec
import org.apache.spark.sql.functions._

class QuarantineSpec extends SparkSpec {
  import spark.implicits._

  private val schema = SchemaFile.fromYaml(
    """columns:
      |  - name: id
      |    type: integer
      |    nullable: false
      |  - name: email
      |    type: string
      |    pattern: '^[^@]+@[^@]+$'
      |  - name: amount
      |    type: decimal
      |    default: "0.0"
      |  - name: payload
      |    type: json
      |""".stripMargin)

  private def frame = Seq(
    (Some("1"), Some("a@b.com"), Some("10.5"), Some("""{"k":1}""")),
    (None, Some("b@c.com"), Some("1.0"), Some("[]")),          // id null
    (Some("3"), Some("not-an-email"), None, Some("{}")),       // pattern
    (Some("x"), Some("d@e.com"), Some("2.0"), Some("{}")),     // id type
    (Some("5"), None, Some("oops"), Some("{nope")),            // amount type + bad json
    (Some("6"), Some("f@g.com"), Some("3.0"), None))           // all fine (json nullable)
    .toDF("id", "email", "amount", "payload")

  test("annotate emits stable, ordered reasons; valid rows get empty arrays") {
    val got = Validation.annotate(frame, schema)
      .select(col("email"), col("_violations"))
      .as[(Option[String], Seq[String])].collect()
      .map { case (e, v) => e.getOrElse("<null>") -> v }.toMap
    assert(got("a@b.com").isEmpty)
    assert(got("f@g.com").isEmpty)
    assert(got("b@c.com") == Seq("required column 'id' is null"))
    assert(got("not-an-email") ==
      Seq("column 'email' does not match pattern '^[^@]+@[^@]+$'"))
    assert(got("d@e.com") == Seq("column 'id' expected integer"))
    // schema-column order: amount's type failure before payload's json
    assert(got("<null>") == Seq("column 'amount' expected decimal",
      "column 'payload' contains invalid JSON"))
  }

  test("quarantine: valid side is typed with defaults applied, invalid side raw") {
    val (valid, invalid) =
      Validation.quarantine(Validation.annotate(frame, schema), schema)
    val v = valid.select(col("id"), col("amount")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(v == Map(1L -> 10.5, 6L -> 3.0))
    assert(valid.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    val bad = invalid.select(col("id"), col("_violations")).collect()
    assert(bad.length == 4)
    // raw side keeps source typing (strings), violations attached
    assert(invalid.schema("id").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("default-filled nulls are not violations; pattern checks the default too") {
    val s2 = SchemaFile.fromYaml(
      """columns:
        |  - name: code
        |    type: string
        |    pattern: '^[A-Z]+$'
        |    default: "bad-default"
        |""".stripMargin)
    val df = Seq(Some("OK"), None).toDF("code")
    val got = Validation.annotate(df, s2)
      .select(col("_violations")).as[Seq[String]].collect()
    assert(got(0).isEmpty)
    // the filled default itself violates the pattern — flagged, so a
    // misconfigured default cannot smuggle bad rows into the valid side
    assert(got(1).nonEmpty)
  }

  test("missing required columns and reserved names fail at plan time") {
    intercept[Exception](Validation.annotate(Seq(1).toDF("other"), schema))
    intercept[IllegalArgumentException](Validation.annotate(
      frame.withColumn("_violations", lit("x")), schema))
  }

  test("annotate agrees with the fail-fast projection on what fails") {
    // every row annotate calls clean must survive apply(failFast=true)
    val ann = Validation.annotate(frame, schema)
    val clean = ann.where(size(col("_violations")) === 0).drop("_violations")
    assert(Validation(clean, schema).count() == 2) // would throw otherwise
    // and every flagged row must make fail-fast throw when run alone
    val badRows = ann.where(size(col("_violations")) > 0)
      .drop("_violations").collect()
    for (r <- badRows) {
      val one = spark.createDataFrame(
        java.util.List.of(r), frame.schema)
      intercept[Exception](Validation(one, schema).collect())
    }
  }
}
