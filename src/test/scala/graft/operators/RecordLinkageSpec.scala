package graft.operators

import graft.SparkSpec
import graft.core.GraftError
import graft.functions.StringSim
import org.apache.spark.unsafe.types.UTF8String

class RecordLinkageSpec extends SparkSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    StringSim.jaroWinkler(UTF8String.fromString(a), UTF8String.fromString(b))

  test("jaro-winkler: pinned against DuckDB jaro_winkler_similarity") {
    // constants probed live from DuckDB (the oracle engine) — any
    // semantic drift (boost threshold, window clamp, empty handling)
    // breaks these before it can flake the gate
    assert(jw("MARTHA", "MARHTA") == 0.9611111111111111)
    assert(jw("DIXON", "DICKSONX") == 0.8133333333333332)
    assert(jw("JELLYFISH", "SMELLYFISH") == 0.8962962962962964)
    assert(jw("DwAyNE", "DuANE") == 0.8400000000000001)
    assert(jw("CRATE", "TRACE") == 0.7333333333333334) // >0.7 but prefix 0
    assert(jw("arnab", "aranb") == 0.9466666666666665)
    assert(jw("abcdefgh", "abcdefgh~1") == 0.96)
    // boost threshold: jaro 0.6 with a 4-char prefix stays 0.6
    assert(jw("abcd111111", "abcd222222") == 0.6)
    // window clamp: 2-char transposition has NO in-window match
    assert(jw("ab", "ba") == 0.0)
    assert(jw("abc", "abc") == 1.0)
    assert(jw("x", "x") == 1.0)
    assert(jw("a", "b") == 0.0)
    // DuckDB convention: either side empty (including BOTH) → 0.0
    assert(jw("", "abc") == 0.0)
    assert(jw("", "") == 0.0)
    // UTF-8 BYTE comparison (DuckDB semantics): é and è share their
    // 0xC3 lead byte, so the 6-byte strings score m=5 with a 2-byte
    // common prefix — NOT the codepoint view's single substitution
    assert(jw("héllo", "hèllo") == 0.9111111111111112)
  }

  test("jaro-winkler: codegen path equals interpreted eval; nulls; SQL") {
    val df = Seq(("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"),
      ("", ""), ("same", "same")).toDF("a", "b")
    val viaCodegen = df.select(StringSim.jaro_winkler($"a", $"b"))
      .collect().map(_.getDouble(0)).toSeq
    assert(viaCodegen == Seq(jw("MARTHA", "MARHTA"),
      jw("DIXON", "DICKSONX"), 0.0, 1.0))
    val withNull = Seq((Some("x"), None: Option[String])).toDF("a", "b")
      .select(StringSim.jaro_winkler($"a", $"b")).head
    assert(withNull.isNullAt(0), "null input must yield null")
    StringSim.register(spark)
    assert(spark.sql("SELECT jaro_winkler('MARTHA', 'MARHTA')")
      .head.getDouble(0) == 0.9611111111111111)
  }

  test("fuzzyJoin: blocked candidates, threshold, weighted multi-field") {
    val left = Seq(
      (1L, "martha", "jones", "b1"),
      (2L, "dixon", "smith", "b2"),
      (3L, "alone", "here", "b9")
    ).toDF("left_id", "ln1", "ln2", "block")
    val right = Seq(
      (11L, "marhta", "jones", "b1"),
      (12L, "dicksonx", "smith", "b2"),
      (13L, "zzzzzz", "yyyyyy", "b1")
    ).toDF("right_id", "rn1", "rn2", "block")
    // single field: martha/marhta 0.9611 passes 0.9; dixon/dicksonx
    // 0.8133 fails; cross-block pairs never considered
    val strict = RecordLinkage.fuzzyJoin(left, right, "block",
      Seq(("ln1", "rn1", 1.0)), threshold = 0.9)
    assert(strict.select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 11L)))
    // weighted two-field: dixon pair scores (0.8133*1 + 1.0*3)/4 =
    // 0.9533 and now qualifies; the zzzzzz row still cannot
    val weighted = RecordLinkage.fuzzyJoin(left, right, "block",
      Seq(("ln1", "rn1", 1.0), ("ln2", "rn2", 3.0)), threshold = 0.9)
    val got = weighted.select("left_id", "right_id", "match_score")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == Seq((1L, 11L), (2L, 12L)))
    val dixonScore = weighted.filter($"left_id" === 2L)
      .head.getAs[Double]("match_score")
    assert(math.abs(dixonScore - (jw("dixon", "dicksonx") + 3.0) / 4.0) < 1e-12)
  }

  test("fuzzyDedup: half-matrix self pairs, blocking respected") {
    val df = Seq(
      (1L, "martha", "b"), (2L, "marhta", "b"), (3L, "zzzzzz", "b"),
      (4L, "martha", "c") // same name, different block → never paired
    ).toDF("id", "nm", "block")
    val out = RecordLinkage.fuzzyDedup(df, "id", "block",
      Seq(("nm", 1.0)), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)),
      "one unordered pair, no self-pairs, no cross-block pairs")
    assert(out.head._3 == jw("martha", "marhta"))
    intercept[IllegalArgumentException] {
      RecordLinkage.fuzzyDedup(df, "id", "block", Seq.empty, 0.5)
    }
  }

  test("fuzzyJoin: oversized blocks drop loudly-by-contract, guards fire") {
    val left = (1 to 40).map(i => (i.toLong, s"name$i", "hot"))
      .toDF("left_id", "ln", "block")
      .union(Seq((99L, "martha", "cold")).toDF("left_id", "ln", "block"))
    val right = Seq((1L, "name1", "hot"), (2L, "marhta", "cold"))
      .toDF("right_id", "rn", "block")
    val out = RecordLinkage.fuzzyJoin(left, right, "block",
      Seq(("ln", "rn", 1.0)), threshold = 0.0, maxBlockSize = 10)
    // the hot block (40 left rows > cap) vanishes entirely; the cold
    // block survives
    assert(out.select("left_id").collect().map(_.getLong(0)).toSeq == Seq(99L))

    intercept[GraftError.Configuration] {
      RecordLinkage.fuzzyJoin(
        left, right.withColumnRenamed("rn", "ln"), "block",
        Seq(("ln", "ln", 1.0)), threshold = 0.5)
    }
    intercept[GraftError.Configuration] {
      RecordLinkage.fuzzyJoin(left, right, "block",
        Seq(("nope", "rn", 1.0)), threshold = 0.5)
    }
    intercept[IllegalArgumentException] {
      RecordLinkage.fuzzyJoin(left, right, "block", Seq.empty, 0.5)
    }
  }

  test("sorted neighborhood: rank order, window pairs, id tie-break") {
    import spark.implicits._
    // sorted by key: dan(4), jon(3), john(1), jonh(2), zed(5)? — keys
    // sort lexicographically: dan < john < jon < jonh < zed
    val d = Seq((1L, "john"), (2L, "jonh"), (3L, "jon"), (4L, "dan"),
      (5L, "zed")).toDF("id", "name")
    val out = RecordLinkage.sortedNeighborhood(d, "id", "name", window = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("rank_a"), r.getAs[Long]("rank_b"))).toSeq.sorted
    // sorted order: dan(0) john(1) jon(2) jonh(3) zed(4); each row
    // pairs with its 2 successors -> 4+3 pairs... exactly:
    // (0,1),(0,2),(1,2),(1,3),(2,3),(2,4),(3,4)
    val byRank = out.map { case (_, _, ra, rb) => (ra, rb) }.sorted
    assert(byRank == Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L),
      (2L, 3L), (2L, 4L), (3L, 4L)))
    // ids ride along correctly: rank 0 = dan(4), rank 1 = john(1)
    assert(out.contains((4L, 1L, 0L, 1L)))
    // near-duplicates that share NO exact key are neighbors: jon/jonh
    assert(out.exists { case (a, b, _, _) =>
      Set(a, b) == Set(2L, 3L) })
    // ties in the key order by id: two equal keys
    val tied = Seq((9L, "x"), (7L, "x"), (8L, "x")).toDF("id", "name")
    val t = RecordLinkage.sortedNeighborhood(tied, "id", "name", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(t == Seq((7L, 8L), (8L, 9L)))
    intercept[IllegalArgumentException](
      RecordLinkage.sortedNeighborhood(d, "id", "name", 1))
    intercept[IllegalArgumentException](
      RecordLinkage.sortedNeighborhood(d, "nope", "name", 3))
  }
}
