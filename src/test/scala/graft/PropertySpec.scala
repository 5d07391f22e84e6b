package graft

import graft.core.TinyType
import graft.infer.{CellInference, DateFormats}

import java.time.{LocalDateTime, ZoneOffset}
import org.scalacheck.Gen

/** Property-based pins for the semantics-heaviest pure code (SURVEY §5
  * prescribes ScalaCheck for the date-parser and cell-typing lattices;
  * raw Gen sampling — the scalatest bridge artifact is not in the
  * offline cache). */
class PropertySpec extends SparkSpec {

  private def forAll[A](g: Gen[A], n: Int = 200)(f: A => Unit): Unit =
    Iterator.continually(g.sample).flatten.take(n).foreach(f)

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int = 200)
                           (f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb), n)(f.tupled)

  private def forAll3[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C], n: Int = 200)
                              (f: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc), n) { case (a, b, c) => f(a, b, c) }

  private val sane = for {
    y <- Gen.choose(1971, 2069); mo <- Gen.choose(1, 12)
    d <- Gen.choose(1, 28); h <- Gen.choose(0, 23)
    mi <- Gen.choose(0, 59); s <- Gen.choose(0, 59)
  } yield LocalDateTime.of(y, mo, d, h, mi, s)

  test("date parser: every date-only format round-trips the date fields") {
    val fmts = Seq("yyyy-M-d", "M/d/yyyy", "d.M.yyyy", "yyyy/M/d", "yyyy.M.d")
    forAll2(sane, Gen.oneOf(fmts)) { (dt, f) =>
      val s = dt.toLocalDate.format(
        java.time.format.DateTimeFormatter.ofPattern(f))
      val parsed = DateFormats.tryParse(s)
      assert(parsed.isDefined, s"'$s' ($f) failed to parse")
      val back = LocalDateTime.ofInstant(parsed.get, ZoneOffset.UTC)
      assert(back.toLocalDate == dt.toLocalDate, s"'$s' ($f) → $back")
      assert(back.toLocalTime == java.time.LocalTime.MIDNIGHT)
    }
  }

  test("date parser: iso datetime without tz is assumed UTC, exact") {
    forAll(sane) { dt =>
      val s = dt.format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
      val parsed = DateFormats.tryParse(s)
      assert(parsed.contains(dt.toInstant(ZoneOffset.UTC)), s"'$s' → $parsed")
    }
  }

  test("date parser: ambiguity resolves month-first (M/d before d/M)") {
    forAll3(Gen.choose(1, 12), Gen.choose(1, 12), Gen.choose(1971, 2069)) {
      (a, b, y) =>
        val parsed = DateFormats.tryParse(s"$a/$b/$y")
        assert(parsed.isDefined)
        val back = LocalDateTime.ofInstant(parsed.get, ZoneOffset.UTC)
        assert(back.getMonthValue == a && back.getDayOfMonth == b,
          s"$a/$b/$y parsed day-first")
    }
  }

  test("cell lattice: singleton types classify exactly") {
    forAll(Gen.choose(Long.MinValue, Long.MaxValue)) { n =>
      assert(CellInference.classify(n.toString) == TinyType.TInteger)
    }
    forAll2(Gen.choose(-1e12, 1e12), Gen.choose(1, 9)) { (x: Double, dp: Int) =>
      val s = BigDecimal(x).setScale(dp,
        BigDecimal.RoundingMode.HALF_UP).toString
      val t = CellInference.classify(s)
      assert(t == TinyType.TDecimal || t == TinyType.TInteger, s"'$s' → $t")
    }
    assert(CellInference.classify("true") == TinyType.TBoolean)
    assert(CellInference.classify("false") == TinyType.TBoolean)
    assert(CellInference.classify("") == TinyType.TNull)
    forAll(Gen.alphaStr.suchThat(s =>
      s.nonEmpty && s != "true" && s != "false")) { s =>
      val t = CellInference.classify(s)
      assert(t == TinyType.TString || t == TinyType.TDate, s"'$s' → $t")
    }
  }

  test("floored % matches Math.floorMod for random operands (Spark-evaluated)") {
    import spark.implicits._
    val cases = (for {
      a <- Seq(-1000L, -7L, -1L, 0L, 1L, 7L, 999L)
      b <- Seq(-13L, -3L, -1L, 1L, 3L, 13L)
    } yield (a, b)) ++
      Seq.tabulate(50)(i => ((i * 2654435761L) % 100000 - 50000,
        ((i * 40503L) % 97) + 1))
    val df = cases.toDF("a", "b")
    val out = graft.transform.Transform.inline(df, "m=row.a % row.b")
      .select($"a", $"b", $"m").collect()
    out.foreach { r =>
      val (a, b, m) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(m == Math.floorMod(a, b), s"$a % $b = $m, want ${Math.floorMod(a, b)}")
    }
  }

  test("SrpBits executor eval equals SrpIndex.bucketOf driver math") {
    // topK correctness hangs on this: the bucket computed per row by the
    // native expression must equal the bucket the driver computes for a
    // query vector from the same (seed, dim)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val vecGen = for {
      dim <- Gen.choose(2, 48)
      v <- Gen.listOfN(dim, Gen.choose(-5.0, 5.0))
    } yield v
    val cfg = Gen.zip(Gen.choose(1, 64), Gen.choose(0L, 1000L))
    forAll2(vecGen, cfg, n = 150) { case (v, (planes, seed)) =>
      val idx = graft.llm.Similarity.SrpIndex(planes, seed)
      val expr = graft.functions.VectorExprs.SrpBits(
        Literal.create(v, ArrayType(DoubleType, containsNull = false)),
        planes, seed)
      val fromExpr = expr.bits(new GenericArrayData(v.toArray))
      assert(fromExpr == idx.bucketOf(v),
        s"dim=${v.length} planes=$planes seed=$seed: expr=$fromExpr")
      // range check only where 1L << planes doesn't overflow Long
      if (planes <= 62) assert(fromExpr >= 0 && fromExpr < (1L << planes))
    }
  }

  test("chunking: tiling invariants hold for random doc/window shapes") {
    import org.apache.spark.sql.functions.col
    val caseGen = for {
      n <- Gen.choose(0, 120)
      chunk <- Gen.choose(2, 40)
      overlap <- Gen.choose(0, chunk - 1)
    } yield (n, chunk, overlap)
    forAll(caseGen, n = 15) { case (n, chunk, overlap) =>
      val words = (1 to n).map(i => s"w$i")
      val df = {
        import spark.implicits._
        Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      }
      val rows = graft.llm.Chunking.chunkDocuments(df, "doc_id", "text",
        chunk, overlap).orderBy(col("chunk_idx")).collect()
      if (n == 0) assert(rows.isEmpty)
      else {
        val step = chunk - overlap
        // starts tile at exactly `step`; count matches the ceil formula
        val starts = rows.map(_.getAs[Long]("chunk_start")).toSeq
        assert(starts == starts.indices.map(_.toLong * step),
          s"n=$n chunk=$chunk overlap=$overlap starts=$starts")
        val expected = math.max(1L, math.ceil((n - overlap).toDouble / step).toLong)
        assert(rows.length.toLong == expected, s"n=$n chunk=$chunk overlap=$overlap")
        // chunk text/len agree with slicing the word list directly
        rows.foreach { r =>
          val s = r.getAs[Long]("chunk_start").toInt
          val expectText = words.slice(s, s + chunk).mkString(" ")
          assert(r.getAs[String]("chunk_text") == expectText)
          assert(r.getAs[Long]("chunk_len") == math.min(chunk, n - s).toLong)
        }
        // dropping each chunk's leading overlap (after the first)
        // reconstructs the document exactly — nothing lost, nothing doubled
        val rebuilt = rows.zipWithIndex.flatMap { case (r, i) =>
          val toks = r.getAs[String]("chunk_text").split(" ").toSeq
          if (i == 0) toks else toks.drop(overlap)
        }
        assert(rebuilt.toSeq == words, s"n=$n chunk=$chunk overlap=$overlap")
      }
    }
  }

  test("gram repetition: stats equal a brute-force Scala count for random docs") {
    import org.apache.spark.unsafe.types.UTF8String
    val docGen = for {
      vocab <- Gen.choose(1, 6) // tiny vocab forces real repetition
      len <- Gen.choose(0, 60)
      words <- Gen.listOfN(len, Gen.choose(0, vocab - 1).map(i => s"w$i"))
      sep <- Gen.oneOf(" ", "  ", ", ", "! ")
    } yield (words, words.mkString(sep))
    val nGen = Gen.choose(1, 4)
    forAll2(docGen, nGen, n = 300) { case ((words, text), n) =>
      val expr = graft.functions.SketchExprs.GramRepetition(
        org.apache.spark.sql.catalyst.expressions.Literal(
          UTF8String.fromString(text),
          org.apache.spark.sql.types.StringType), n)
      val row = expr.stats(UTF8String.fromString(text))
      val grams = words.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
      val byGram = grams.groupBy(identity).view.mapValues(_.size)
      assert(row.getLong(0) == grams.length.toLong, s"total: $text n=$n")
      assert(row.getLong(1) == byGram.size.toLong, s"distinct: $text n=$n")
      assert(row.getLong(2) == (if (grams.isEmpty) 0L
        else byGram.values.max.toLong), s"top: $text n=$n")
    }
  }

  test("capped collects: any update/merge order obeys the cap contract") {
    import graft.functions.CollectCapped.CollectLongsCapped
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.LongType
    val caseGen = for {
      values <- Gen.listOf(Gen.choose(-1000L, 1000L))
      cap <- Gen.choose(1, 12)
      nParts <- Gen.choose(1, 4)
    } yield (values, cap, nParts)
    forAll(caseGen, n = 300) { case (values, cap, nParts) =>
      val agg = CollectLongsCapped(BoundReference(0, LongType, nullable = false), cap)
      // partial buffers per "partition", serialize/deserialize round-trip,
      // then merge — the distributed lifecycle in miniature
      val parts = values.zipWithIndex.groupBy(_._2 % nParts).values.toSeq
        .map(_.map(_._1))
      val partials = parts.map { p =>
        val b = agg.createAggregationBuffer()
        p.foreach(v => agg.update(b, InternalRow(v)))
        agg.deserialize(agg.serialize(b))
      }
      val merged = partials.reduceOption((a, b) => agg.merge(a, b))
        .getOrElse(agg.createAggregationBuffer())
      val out = agg.eval(merged)
      if (values.length > cap) assert(out == null,
        s"${values.length} > cap $cap must poison")
      else {
        val got = out.asInstanceOf[ArrayData].toLongArray().toSeq
        assert(got == values.sorted, s"cap=$cap parts=$nParts")
      }
    }
  }

  test("cosine/nearest-centroid: bounds and argmin optimality") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val at = ArrayType(DoubleType, containsNull = false)
    def lit(v: Seq[Double]) = Literal.create(v, at)
    val vecGen = for {
      dim <- Gen.choose(2, 16)
      v <- Gen.listOfN(dim, Gen.choose(-3.0, 3.0))
    } yield v
    forAll2(vecGen, vecGen, n = 150) { (a0, b0) =>
      val dim = math.min(a0.length, b0.length)
      val (a, b) = (a0.take(dim), b0.take(dim))
      if (a.exists(_ != 0.0) && b.exists(_ != 0.0)) {
        val c = graft.functions.VectorExprs.CosineSim(lit(a), lit(b))
          .sim(new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
        assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"|cos|>1: $c")
      }
    }
    val caseGen = for {
      dim <- Gen.choose(2, 8)
      nc <- Gen.choose(1, 6)
      v <- Gen.listOfN(dim, Gen.choose(-3.0, 3.0))
      cents <- Gen.listOfN(nc, Gen.listOfN(dim, Gen.choose(-3.0, 3.0)))
    } yield (v, cents.map(_.toSeq))
    forAll(caseGen, n = 150) { case (v, cents) =>
      val cell = graft.functions.VectorExprs.NearestCentroid(lit(v), cents)
        .cell(new GenericArrayData(v.toArray))
      def d2(c: Seq[Double]) = c.zip(v).map { case (x, y) => (x - y) * (x - y) }.sum
      val best = d2(cents(cell))
      assert(cents.forall(c => best <= d2(c) + 1e-12),
        s"cell $cell is not the argmin")
    }
  }

  test("text rewrites: stripHtml / NFC idempotent, line dedup idempotent (Spark)") {
    import spark.implicits._
    // '&' excluded deliberately: entity decode is one-generation by
    // design — decoding `&lt;b&gt;` CREATES a tag a second pass would
    // strip, so idempotence only holds for entity-free text (the same
    // single-pass contract fixMojibake documents). For raw tags the law
    // IS universal: any surviving '<' provably has no '>' after it.
    val textGen = Gen.listOfN(80, Gen.frequency(
      6 -> Gen.alphaNumChar, 2 -> Gen.const(' '),
      1 -> Gen.oneOf('<', '>', '\n', '"'),
      1 -> Gen.oneOf('é', '́', 'ü', '̈')))
      .map(_.mkString)
    val df = Gen.listOfN(150, textGen).sample.get.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val once = graft.llm.TextAnalysis.stripHtml($"text")
    val twice = graft.llm.TextAnalysis.stripHtml(once)
    assert(df.filter(!(once <=> twice)).count() == 0,
      "stripHtml must be idempotent")
    // NFC: Unicode guarantees normalize(normalize(x)) == normalize(x)
    val n1 = graft.functions.UnicodeExprs.nfc($"text")
    val n2 = graft.functions.UnicodeExprs.nfc(n1)
    assert(df.filter(!(n1 <=> n2)).count() == 0, "NFC must be idempotent")

    // line dedup: removing >=K-doc lines leaves every surviving line's
    // doc frequency unchanged, so a second pass removes nothing
    val d1 = graft.llm.Paragraphs.dropCommon(df, "doc_id", "text", minDocs = 2)
    val d2 = graft.llm.Paragraphs.dropCommon(d1, "doc_id", "text", minDocs = 2)
    assert(d1.exceptAll(d2).isEmpty && d2.exceptAll(d1).isEmpty,
      "dropCommon must be idempotent")
  }

  test("media header parsers are TOTAL: arbitrary bytes never throw") {
    import graft.llm.Multimodal.{AudioHeaders, ImageHeaders, VideoHeaders}
    // at 100 TB the byte parsers face every corruption the web can
    // produce — a throw in an executor task is a job killer, so totality
    // (None, never an exception) is the contract under fuzz
    val junk = Gen.choose(0, 64).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
    // adversarial prefixes: real signatures followed by garbage
    val sigs = Seq("RIFF", "RIFFxxxxWAVE", "GIF89a", "PNG",
      "   ftyp", "   ftyp")
      .map(_.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val seeded = Gen.oneOf(sigs).flatMap(p =>
      junk.map(j => p ++ j))
    forAll(Gen.oneOf(junk, seeded), n = 400) { bytes =>
      ImageHeaders.parse(bytes)
      AudioHeaders.parseWav(bytes)
      VideoHeaders.parseMp4(bytes)
    }
    // truncations of a VALID mp4 at every length: None or a value,
    // never a throw / out-of-bounds
    val bb = java.nio.ByteBuffer.allocate(16 + 8 + 108)
    bb.putInt(16); bb.put("ftyp".getBytes); bb.put("isomisom".getBytes)
    bb.putInt(8 + 108); bb.put("moov".getBytes)
    bb.putInt(108); bb.put("mvhd".getBytes)
    val valid = bb.array()
    (0 until valid.length).foreach(n => VideoHeaders.parseMp4(valid.take(n)))
  }

  test("ShingleHash equals builtin composition on random ASCII text (Spark)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val gen = Gen.listOfN(120, Gen.frequency(
      8 -> Gen.alphaNumChar, 3 -> Gen.const(' '), 1 -> Gen.oneOf(".,-!?:;")))
      .map(_.mkString)
    val samples = Gen.listOfN(200, gen).sample.get
    val df = samples.toDF("text")
    val tokens = split(lower($"text"), "\\W+")
    val count = size(tokens) - 2
    val grams = transform(sequence(lit(0), greatest(count - 1, lit(0))),
      i => concat_ws(" ", slice(tokens, i + 1, lit(3))))
    val slow = array_sort(array_distinct(transform(grams, g => xxhash64(g))))
    val cmp = df.select(
      graft.functions.SketchExprs.shingleHashes($"text", 3).as("fast"),
      slow.as("slow"))
    assert(cmp.filter(!($"fast" <=> $"slow")).count() == 0)
  }
}
