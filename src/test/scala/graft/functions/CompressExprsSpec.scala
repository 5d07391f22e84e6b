package graft.functions

import graft.SparkSpec

class CompressExprsSpec extends SparkSpec {
  import spark.implicits._

  test("deflate ratio separates boilerplate, prose and noise") {
    // noise: deterministic pseudo-random hex (no structure to exploit)
    val rnd = new scala.util.Random(42)
    val noise = Array.fill(4000)(rnd.nextPrintableChar()).mkString
    val d = Seq(
      (1L, "click here to subscribe " * 400),   // hyper-repetitive
      (2L, "The quarterly report shows steady growth across all three " +
        "segments, with hardware revenue up nine percent and services " +
        "margin holding despite the currency headwind. " * 20),
      (3L, noise),
      (4L, ""),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = d.select($"doc_id",
        CompressExprs.deflateStats($"text").as("c"))
      .select($"doc_id", $"c.*").collect()
      .map(r => r.getLong(0) -> r).toMap

    val rep = out(1L).getAs[Double]("ratio")
    val prose = out(2L).getAs[Double]("ratio")
    val noisy = out(3L).getAs[Double]("ratio")
    assert(rep < 0.05, s"repetition should crush: $rep")
    assert(prose > rep && prose < noisy,
      s"prose must sit between: $rep < $prose < $noisy")
    assert(noisy > 0.5, s"noise should barely compress: $noisy")
    // ratio is exactly deflate_bytes / raw_bytes
    assert(math.abs(out(2L).getAs[Long]("deflate_bytes").toDouble /
      out(2L).getAs[Long]("raw_bytes") - prose) < 1e-12)
    // empty text: defined as incompressible, no division by zero
    assert(out(4L).getAs[Long]("raw_bytes") == 0L &&
      out(4L).getAs[Double]("ratio") == 1.0)
    assert(out(5L).isNullAt(out(5L).fieldIndex("ratio")))
  }

  test("determinism and level guard") {
    val d = Seq((1L, "some steady text " * 50)).toDF("id", "t")
    val a = d.select(CompressExprs.deflateStats($"t").as("c"))
      .select($"c.deflate_bytes").as[Long].collect()(0)
    val b = d.select(CompressExprs.deflateStats($"t").as("c"))
      .select($"c.deflate_bytes").as[Long].collect()(0)
    assert(a == b && a > 0)
    // higher level compresses at least as well
    val l1 = d.select(CompressExprs.deflateStats($"t", 1).as("c"))
      .select($"c.deflate_bytes").as[Long].collect()(0)
    val l9 = d.select(CompressExprs.deflateStats($"t", 9).as("c"))
      .select($"c.deflate_bytes").as[Long].collect()(0)
    assert(l9 <= l1)
    intercept[IllegalArgumentException](
      CompressExprs.deflateStats($"t", 0))
  }
}
