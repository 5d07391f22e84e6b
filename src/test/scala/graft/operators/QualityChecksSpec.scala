package graft.operators

import graft.SparkSpec

class QualityChecksSpec extends SparkSpec {
  import spark.implicits._
  import QualityChecks._

  private def byKey(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0) + "/" + r.getString(1),
      (r.getDouble(2), r.getBoolean(4)))).toMap

  test("all four check families measure and judge correctly") {
    val facts = Seq(
      (1L, Some("a"), 5.0, "X"),
      (2L, Some("b"), 15.0, "Y"),
      (2L, None, 25.0, "Z"),      // null name, dup id, Z not in set
      (4L, Some("d"), -1.0, "X")  // out of bounds, FK-missing id
    ).toDF("id", "name", "v", "cat")
    val dim = Seq(1L, 2L, 3L).toDF("k")

    val out = QualityChecks.run(facts, Seq(
      NotNull("name"),                      // 3/4 → fail
      NotNull("id"),                        // 4/4 → pass
      Bounds("v", 0, 20, minFrac = 0.5),    // 2/4 → pass at 0.5
      InSet("cat", Seq("X", "Y")),          // 3/4 → fail
      Matches("cat", "^[A-Z]$"),            // 4/4 → pass
      Unique(Seq("id")),                    // 3 distinct / 4 → fail
      Unique(Seq("id", "name")),            // 4/4 → pass
      ForeignKey("id", dim, "k")))          // 3/4 rows matched → fail

    val m = byKey(out)
    assert(m("not_null/name") == (0.75, false))
    assert(m("not_null/id") == (1.0, true))
    assert(m("bounds/v") == (0.5, true))
    assert(m("in_set/cat") == (0.75, false))
    assert(m("matches/cat") == (1.0, true))
    assert(m("unique/id") == (0.75, false))
    assert(m("unique/id,name") == (1.0, true))
    assert(m("foreign_key/id") == (0.75, false))
    assert(out.columns.toSeq ==
      Seq("check", "target", "metric", "threshold", "passed"))
  }

  test("null cells fail bounds/in_set/matches predicates (not skipped)") {
    val df = Seq(Some(5.0), None, Some(50.0)).toDF("v")
    val m = byKey(QualityChecks.run(df,
      Seq(Bounds("v", 0, 100, minFrac = 0.9))))
    assert(m("bounds/v") == ((2.0 / 3.0, false)))
  }

  test("null foreign keys count as violations") {
    val facts = Seq(Some(1L), None, Some(2L)).toDF("fk")
    val dim = Seq(1L, 2L).toDF("k")
    val m = byKey(QualityChecks.run(facts, Seq(ForeignKey("fk", dim, "k"))))
    assert(m("foreign_key/fk") == ((2.0 / 3.0, false)))
  }

  test("row-level checks share ONE aggregation pass (single scan)") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val plan = QualityChecks.run(df, Seq(
      NotNull("id"), Bounds("id", 0, 10), InSet("s", Seq("a", "b")),
      Matches("s", "^[ab]$"))).queryExecution.optimizedPlan
    val scans = plan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }
    assert(scans.size == 1,
      s"four row-level checks must fold into one scan, saw ${scans.size}")
  }
}
