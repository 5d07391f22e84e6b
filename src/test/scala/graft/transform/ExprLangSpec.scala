package graft.transform

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantics-by-example, mirroring the reference's transformer tests
  * (`/root/reference/src/transformer.rs` test module) and README
  * examples 06/13. */
class ExprLangSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](df: org.apache.spark.sql.DataFrame, col: String): T =
    df.select(col).head.getAs[T](0)

  lazy val products = Seq(
    ("SKU001", "Laptop Pro", 1299.99, 1L, 2.5),
    ("SKU002", "Office Chair", 249.50, 2L, 15.0)
  ).toDF("product_code", "name", "unit_price", "category_id", "weight_kg")

  test("inline: A7 golden values (concat, arithmetic, comparison)") {
    val out = Transform.inline(products,
      "full_name=row.product_code .. ': ' .. row.name; " +
        "price_cents=row.unit_price * 100; " +
        "weight_lb=row.weight_kg * 2.20462; " +
        "is_heavy=row.weight_kg > 10")
    val first = out.filter($"product_code" === "SKU001").head
    assert(first.getAs[String]("full_name") == "SKU001: Laptop Pro")
    assert(math.abs(first.getAs[Double]("price_cents") - 129999.0) < 1e-9)
    assert(!first.getAs[Boolean]("is_heavy"))
    assert(out.filter($"is_heavy").count() == 1)
    // inline mode preserves all input columns
    assert(out.columns.startsWith(products.columns))
  }

  test("script: A6 cross-line references") {
    val emp = Seq((1L, "John", "Doe", 8500.00, "2020-03-15")).toDF(
      "id", "first_name", "last_name", "monthly_salary", "hire_date")
    val out = Transform.script(emp,
      """# derive yearly figures
        |full_name = row.first_name .. " " .. row.last_name
        |annual_salary = row.monthly_salary * 12
        |hire_year = tonumber(string.sub(row.hire_date, 1, 4))
        |years_service = 2024 - hire_year""".stripMargin)
    val r = out.head
    assert(r.getAs[String]("full_name") == "John Doe")
    assert(r.getAs[Double]("annual_salary") == 102000.0)
    assert(r.getAs[Double]("hire_year") == 2020.0)
    assert(r.getAs[Double]("years_service") == 4.0)
  }

  test("integer arithmetic stays integral; division is always double") {
    val df = Seq((6L, 4L)).toDF("a", "b")
    val out = Transform.inline(df, "s=row.a + row.b; p=row.a * row.b; q=row.a / row.b")
    val r = out.head
    assert(r.getAs[Long]("s") == 10L)
    assert(r.getAs[Long]("p") == 24L)
    assert(r.getAs[Double]("q") == 1.5)
  }

  test("numeric strings coerce in arithmetic (Lua dynamic typing)") {
    val df = Seq(("25", 1.0)).toDF("age", "x")
    assert(one[Double](Transform.inline(df, "y=row.age + 1"), "y") == 26.0)
  }

  test("ternary cond and x or y") {
    val df = Seq((15.0), (5.0)).toDF("w")
    val out = Transform.inline(df, "cls=row.w > 10 and 'heavy' or 'light'")
    assert(out.orderBy(desc("w")).as[(Double, String)].collect()
      .map(_._2).toSeq == Seq("heavy", "light"))
  }

  test("string functions: upper/lower/len/sub/rep/reverse/format") {
    val df = Seq(Tuple1("Hello")).toDF("s")
    val out = Transform.inline(df,
      "u=string.upper(row.s); l=string.lower(row.s); n=string.len(row.s); " +
        "s2=string.sub(row.s, 2, 4); m=row.s:upper(); " +
        "f=string.format('%s-%d', row.s, 42)")
    val r = out.head
    assert(r.getAs[String]("u") == "HELLO")
    assert(r.getAs[String]("l") == "hello")
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[String]("s2") == "ell")
    assert(r.getAs[String]("m") == "HELLO")
    assert(r.getAs[String]("f") == "Hello-42")
  }

  test("lua patterns: match/gsub/find") {
    val df = Seq(("john@example.com", "a1b2c3")).toDF("email", "code")
    val out = Transform.inline(df,
      "domain=row.email:match('@(.+)'); digits=row.code:gsub('[^%d]', ''); " +
        "has_com=row.email:find('%.com$')")
    val r = out.head
    assert(r.getAs[String]("domain") == "example.com")
    assert(r.getAs[String]("digits") == "123")
    assert(r.getAs[Long]("has_com") > 0)
  }

  test("match returns null (nil) on no match") {
    val df = Seq(Tuple1("nodomain")).toDF("email")
    val out = Transform.inline(df, "domain=row.email:match('@(.+)')")
    assert(out.head.isNullAt(out.columns.indexOf("domain")))
  }

  test("math functions + tonumber/tostring") {
    val df = Seq((3.7, "12")).toDF("x", "s")
    val out = Transform.inline(df,
      "f=math.floor(row.x); c=math.ceil(row.x); a=math.abs(0 - row.x); " +
        "n=tonumber(row.s); t=tostring(row.x); bad=tonumber('zzz')")
    val r = out.head
    assert(r.getAs[Long]("f") == 3L)
    assert(r.getAs[Long]("c") == 4L)
    assert(r.getAs[Double]("a") == 3.7)
    assert(r.getAs[Double]("n") == 12.0)
    assert(r.getAs[String]("t") == "3.7")
    assert(r.isNullAt(out.columns.indexOf("bad")))
  }

  test("% is Lua floored modulo (sign of divisor), integral for ints") {
    val df = Seq((-7L, 3L)).toDF("a", "b")
    val out = Transform.inline(df,
      "m1=row.a % row.b; m2=(0 - row.a) % (0 - row.b); " +
        "m3=(0 - row.a) % row.b; m4=17 % 5")
    val r = out.head
    assert(r.getAs[Long]("m1") == 2L)   // -7 %  3 → 2 (Lua), not -1
    assert(r.getAs[Long]("m2") == -2L)  //  7 % -3 → -2
    assert(r.getAs[Long]("m3") == 1L)   //  7 %  3 → 1
    assert(r.getAs[Long]("m4") == 2L)
  }

  test("filter: truthiness (predicate and non-nil)") {
    val df = Seq(("a", 20.0), ("b", 5.0)).toDF("k", "v")
    assert(Transform.filter(df, "row.v > 10").as[(String, Double)].collect()
      .toSeq == Seq(("a", 20.0)))
    // non-boolean truthiness: nil (no match) drops
    val df2 = Seq(Tuple1("x@y.com"), Tuple1("plain")).toDF("e")
    assert(Transform.filter(df2, "row.e:match('@(.+)')").count() == 1)
  }

  test("rowFn escape hatch drops rows via None") {
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val out = Transform.rowFn(df, df.schema) { r =>
      if (r.getLong(1) % 2 == 0) Some(r) else None
    }
    assert(out.as[(String, Long)].collect().toSeq == Seq(("b", 2L)))
  }

  test("or as default (coalesce) and == / ~= comparisons") {
    val df = Seq((Some("x"), 1L), (None, 2L)).toDF("s", "i")
    val out = Transform.inline(df, "d=row.s or 'missing'; eq=row.i == 2; ne=row.i ~= 2")
    val rows = out.orderBy("i").collect()
    assert(rows(0).getAs[String]("d") == "x")
    assert(rows(1).getAs[String]("d") == "missing")
    assert(!rows(0).getAs[Boolean]("eq") && rows(0).getAs[Boolean]("ne"))
  }

  test("quoted semicolons and equals don't split statements") {
    val df = Seq(Tuple1("v")).toDF("s")
    val out = Transform.inline(df, "a=row.s .. ';x=1'; b='q==r'")
    val r = out.head
    assert(r.getAs[String]("a") == "v;x=1")
    assert(r.getAs[String]("b") == "q==r")
  }
}
