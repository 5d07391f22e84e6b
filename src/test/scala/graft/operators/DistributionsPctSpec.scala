package graft.operators

import graft.SparkSpec

class DistributionsPctSpec extends SparkSpec {
  import spark.implicits._

  private def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6

  test("percentile_cont semantics: hand positions, interpolation, ties") {
    // key a: values 10,20,30,40 -> p50 pos = 1.5 -> 20 + 0.5*(30-20) = 25
    //                              p90 pos = 2.7 -> 30 + 0.7*10 = 37
    // key b: single value -> every percentile is that value
    val d = (Seq(("a", 10.0), ("a", 20.0), ("a", 30.0), ("a", 40.0),
      ("b", 7.5)))
      .toDF("k", "v")
    val out = Distributions.percentilesByKey(d, "k", "v",
        Seq(("p50", 0.5), ("p90", 0.9), ("p0", 0.0), ("p100", 1.0)))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getAs[Long]("n") == 4L)
    assert(a.getAs[Double]("p50") == 25.0)
    assert(a.getAs[Double]("p90") == r6(30.0 + 0.7 * 10.0))
    assert(a.getAs[Double]("p0") == 10.0 && a.getAs[Double]("p100") == 40.0)
    val b = out("b")
    Seq("p50", "p90", "p0", "p100").foreach(c =>
      assert(b.getAs[Double](c) == 7.5, s"$c of singleton"))
    // duplicated values: 1,1,1,9 -> p50 pos 1.5 sits inside the 1-run
    val t = Seq.fill(3)(("t", 1.0)).++(Seq(("t", 9.0))).toDF("k", "v")
    val pt = Distributions.percentilesByKey(t, "k", "v",
      Seq(("p50", 0.5))).collect()(0)
    assert(pt.getAs[Double]("p50") == 1.0)
    intercept[IllegalArgumentException](
      Distributions.percentilesByKey(d, "k", "v", Seq.empty))
    intercept[IllegalArgumentException](
      Distributions.percentilesByKey(d, "k", "v", Seq(("x", 1.5))))
    intercept[IllegalArgumentException](
      Distributions.percentilesByKey(d, "k", "v",
        Seq(("x", 0.5), ("x", 0.9))))
  }
}
