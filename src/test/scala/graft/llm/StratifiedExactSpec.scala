package graft.llm

import graft.SparkSpec

class StratifiedExactSpec extends SparkSpec {
  import spark.implicits._

  test("largest-remainder allocation: exact total, proportional shares") {
    // strata sizes 50/30/20 at k=10 -> clean quotas 5/3/2
    val d = ((1 to 50).map(i => (i.toLong, "a")) ++
      (51 to 80).map(i => (i.toLong, "b")) ++
      (81 to 100).map(i => (i.toLong, "c"))).toDF("id", "st")
    val out = Sampling.stratifiedExactK(d, "st", "id", 10)
      .groupBy("st").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 5L, "b" -> 3L, "c" -> 2L))

    // sizes 7/7/6 at k=10: quotas 3.5/3.5/3 -> bases 3/3/3, leftover 1
    // goes to the largest remainder; a/b tie (rem 10) breaks to 'a'
    val t = ((1 to 7).map(i => (i.toLong, "a")) ++
      (11 to 17).map(i => (i.toLong, "b")) ++
      (21 to 26).map(i => (i.toLong, "c"))).toDF("id", "st")
    val ot = Sampling.stratifiedExactK(t, "st", "id", 10)
      .groupBy("st").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ot == Map("a" -> 4L, "b" -> 3L, "c" -> 3L))
    assert(ot.values.sum == 10L)

    // k >= N degrades to everything
    assert(Sampling.stratifiedExactK(t, "st", "id", 1000).count() == 20)
    // determinism: same picks both runs
    val p1 = Sampling.stratifiedExactK(d, "st", "id", 10)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val p2 = Sampling.stratifiedExactK(d, "st", "id", 10)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(p1 == p2)
    intercept[IllegalArgumentException](
      Sampling.stratifiedExactK(d, "st", "id", 0))
    intercept[IllegalArgumentException](
      Sampling.stratifiedExactK(d, "nope", "id", 5))
  }
}
