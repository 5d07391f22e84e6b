package graft.operators

import graft.SparkSpec

class DriftSpec extends SparkSpec {
  import spark.implicits._

  private def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6

  test("numeric PSI: hand bins, out-of-range clamp, empty-bin epsilon") {
    // baseline uniform on [0, 10): bins of width 1 at bins=10
    val base = (0 until 100).map(i => (i % 10) + 0.5).toDF("v")
    // current: half the mass moved to bin 9 plus values ABOVE the
    // baseline max (clamp into bin 9); bins 0-4 emptied
    val cur = ((0 until 50).map(i => (i % 5) + 5.5) ++
      Seq.fill(50)(42.0)).toDF("v")
    val detail = Drift.psiNumeric(base, cur, "v", bins = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    // bin 0: base 10/100, cur 0 -> eps
    val b0 = detail(0L)
    assert(b0.getAs[Long]("n_base") == 10L && b0.getAs[Long]("n_cur") == 0L)
    assert(b0.getAs[Double]("p_cur") == 1e-4)
    assert(b0.getAs[Double]("psi_contribution") ==
      r6((1e-4 - 0.1) * math.log(1e-4 / 0.1)))
    // bin 9: base 10, cur 10 (x=9.5) + 50 clamped 42.0s
    val b9 = detail(9L)
    assert(b9.getAs[Long]("n_cur") == 60L)
    assert(b9.getAs[Double]("psi_contribution") ==
      r6((0.6 - 0.1) * math.log(0.6 / 0.1)))
    // summary: heavy shift -> action level
    val sum = Drift.psiSummary(Drift.psiNumeric(base, cur, "v", bins = 10))
      .collect()(0)
    assert(sum.getAs[String]("level") == "action")
    assert(sum.getAs[Double]("psi") > 0.25)
    // identical snapshots: psi == 0.0, stable
    val same = Drift.psiSummary(Drift.psiNumeric(base, base, "v"))
      .collect()(0)
    assert(same.getAs[Double]("psi") == 0.0 &&
      same.getAs[String]("level") == "stable")
    intercept[IllegalArgumentException](
      Drift.psiNumeric(base, cur, "v", bins = 1))
  }

  test("KS statistic: hand CDF gap, shift detection, identical zero") {
    // base {1,2,3,4}, cur {3,4,5,6}: F gap maxes at v=2 (0.5 - 0.0)
    val base = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val cur = Seq(3.0, 4.0, 5.0, 6.0).toDF("v")
    val r = Drift.ksStatistic(base, cur, "v").collect()(0)
    assert(r.getAs[Long]("n_base") == 4L && r.getAs[Long]("n_cur") == 4L)
    assert(r.getAs[Double]("d_stat") == 0.5)
    assert(r.getAs[Double]("at_value") == 2.0)
    // identical samples: D = 0, argmax tie -> smallest value
    val same = Drift.ksStatistic(base, base, "v").collect()(0)
    assert(same.getAs[Double]("d_stat") == 0.0)
    assert(same.getAs[Double]("at_value") == 1.0)
    // duplicated masses weight the CDF: base {1x9, 10}, cur {10x10}
    val heavy = Drift.ksStatistic(
      (Seq.fill(9)(1.0) :+ 10.0).toDF("v"),
      Seq.fill(10)(10.0).toDF("v"), "v").collect()(0)
    assert(heavy.getAs[Double]("d_stat") == 0.9)
    assert(heavy.getAs[Double]("at_value") == 1.0)
  }

  test("categorical PSI: category bins, new categories, null bin") {
    val base = (Seq.fill(80)("en") ++ Seq.fill(20)("de")).toDF("lang")
    val cur = (Seq.fill(40)("en") ++ Seq.fill(20)("de") ++
      Seq.fill(40)("fr")).toDF("lang")
    val d = Drift.psiCategorical(base, cur, "lang")
      .collect().map(r => Option(r.getString(0)).getOrElse("null") -> r)
      .toMap
    // fr is new: base count 0 -> eps
    assert(d("fr").getAs[Long]("n_base") == 0L &&
      d("fr").getAs[Double]("p_base") == 1e-4)
    assert(d("en").getAs[Double]("psi_contribution") ==
      r6((0.4 - 0.8) * math.log(0.4 / 0.8)))
    // de unchanged in proportion: zero contribution
    assert(d("de").getAs[Double]("psi_contribution") == 0.0)
    val sum = Drift.psiSummary(Drift.psiCategorical(base, cur, "lang"))
      .collect()(0)
    assert(sum.getAs[String]("level") == "action")
  }
}
