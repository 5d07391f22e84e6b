package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LlmSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup: canonical = min(id) per content group, narrow output") {
    val df = Seq(
      (1L, "hello world"), (2L, "hello world"), (3L, "other"),
      (4L, "hello world"), (5L, "other"), (6L, "unique")
    ).toDF("id", "text")
    val out = Dedup.exact(df, "id", Seq("text"))
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq == Seq(
      (1L, 1L, false), (2L, 1L, true), (3L, 3L, false),
      (4L, 1L, true), (5L, 3L, true), (6L, 6L, false)))
    assert(out.map(_.schema.fieldNames.toSeq).head ==
      Seq("id", "canonical_id", "is_duplicate"))
  }

  test("exact dedup: multi-column content never collides across boundaries") {
    // a separator-concat hash would mark ("a b","c") == ("a","b c")
    val df = Seq((1L, "a b", "c"), (2L, "a", "b c"), (3L, "a b", "c"))
      .toDF("id", "c1", "c2")
    val out = Dedup.exact(df, "id", Seq("c1", "c2")).orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq ==
      Seq((1L, 1L, false), (2L, 2L, false), (3L, 1L, true)))
    // null, the string "null", and a swapped column stay three distinct contents
    val nulls = Seq(
      (1L, Option("x"), Option.empty[String]),
      (2L, Option.empty[String], Option("x")),
      (3L, Option("x"), Option("null"))
    ).toDF("id", "c1", "c2")
    val nd = Dedup.exact(nulls, "id", Seq("c1", "c2")).collect()
    assert(nd.forall(!_.getBoolean(2)), "distinct contents falsely deduped")
  }

  test("embeddingPairs hot-bucket cap drops oversized buckets") {
    // 30 identical vectors land in ONE srp bucket; cap 10 → no pairs
    val same = (1L to 30L).map(i => (i, Seq(1.0f, 0.2f, -0.3f, 0.5f)))
      .toDF("id", "vec")
    assert(Dedup.embeddingPairs(same, "id", "vec", maxBucketSize = 10).count() == 0)
    assert(Dedup.embeddingPairs(same, "id", "vec").count() == 30L * 29 / 2)
  }

  test("semanticDedup: multi-cluster path equals brute-force on separated modes") {
    // four well-separated semantic modes (orthogonal directions), each
    // holding an original, an exact copy, and a mixed-direction member
    // whose cosine to the mode is 1/√2 ≈ 0.707 < 0.95. The provable
    // invariant (the same one the oracle row leans on): exact copies
    // have identical centroid distances, so they co-cluster under the
    // deterministic argmin NO MATTER where k-means converges — every
    // brute-force pair is found; sub-threshold members are never
    // paired because the within-cluster verify is exact cosine.
    val modes = Seq(
      Seq(1.0f, 0.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f, 0.0f),
      Seq(0.0f, 0.0f, 1.0f, 0.0f), Seq(0.0f, 0.0f, 0.0f, 1.0f))
    val rows = modes.zipWithIndex.flatMap { case (m, i) =>
      val next = modes((i + 1) % modes.length)
      val mixed = m.zip(next).map { case (a, b) => a + b }
      val base = i * 10L
      Seq((base + 1, m), (base + 2, m), (base + 3, mixed))
    }
    val df = rows.toDF("id", "vec")
    val out = Dedup.semanticDedup(df, "id", "vec",
      nlist = 4, threshold = 0.95, kmeansIters = 2)
      .orderBy($"id").collect()
    val expect = modes.indices.flatMap { i =>
      val b = i * 10L
      Seq((b + 1, b + 1, false), (b + 2, b + 1, true), (b + 3, b + 3, false))
    }
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      == expect, "semantic dedup must match the per-mode brute force")
  }

  test("semanticDedup: empty and singleton corpora, oversized-cluster cap") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("id", "vec")
    assert(Dedup.semanticDedup(empty, "id", "vec").count() == 0)
    val one = Seq((7L, Seq(1.0f, 0.5f))).toDF("id", "vec")
    val c = Dedup.semanticDedup(one, "id", "vec", nlist = 4).collect()
    assert(c.length == 1 && c.head.getLong(1) == 7L && !c.head.getBoolean(2))
    // 30 identical vectors collapse into one cluster; cap 10 → the
    // cluster is dropped, nothing is marked duplicate (loud-by-shape:
    // a collapsed embedding mode is a pipeline smell, not silent grind)
    val same = (1L to 30L).map(i => (i, Seq(1.0f, 0.2f, -0.3f, 0.5f)))
      .toDF("id", "vec")
    val capped = Dedup.semanticDedup(same, "id", "vec",
      nlist = 2, maxClusterSize = 10)
    assert(capped.filter($"is_duplicate").count() == 0)
    val uncapped = Dedup.semanticDedup(same, "id", "vec", nlist = 2)
    assert(uncapped.filter($"is_duplicate").count() == 29)
  }

  test("ShingleHash native expr equals the built-in composition exactly") {
    import org.apache.spark.sql.functions.{array_distinct, concat_ws, greatest,
      lit, lower, sequence, size, slice, split, transform, xxhash64}
    val docs = sf("documents").select($"doc_id", $"text")
      .withColumn("text", concat_ws(" ", $"text", lit(""))) // trailing sep edge
    def builtin(n: Int) = {
      val tokens = split(lower($"text"), "\\W+")
      val count = size(tokens) - (n - 1)
      val grams = transform(
        sequence(lit(0), greatest(count - 1, lit(0))),
        i => concat_ws(" ", slice(tokens, i + 1, lit(n))))
      array_distinct(transform(grams, g => xxhash64(g)))
    }
    // fast output is SORTED distinct; compare as sets via array_sort
    for (n <- Seq(1, 3, 5)) {
      val cmp = docs.select(
        graft.functions.SketchExprs.shingleHashes($"text", n).as("fast"),
        array_sort(builtin(n)).as("slow"))
      assert(cmp.filter(!($"fast" <=> $"slow")).count() == 0, s"n=$n diverges")
    }
    // degenerate inputs: short text, empty text, punctuation-only
    val edge = Seq("one two", "", "?!.", "a").toDF("text")
    for (n <- Seq(1, 3)) {
      val cmp = edge.select(
        graft.functions.SketchExprs.shingleHashes($"text", n).as("fast"),
        array_sort(builtin(n)).as("slow"))
      assert(cmp.filter(!($"fast" <=> $"slow")).count() == 0, s"edge n=$n diverges")
    }
    // jaccard_sorted equals the set-op formulation
    val pairs = docs.limit(50).select(
      graft.functions.SketchExprs.shingleHashes($"text", 3).as("a"))
      .crossJoin(docs.limit(50).select(
        graft.functions.SketchExprs.shingleHashes($"text", 3).as("b")))
    val diff = pairs.select(
      graft.functions.SketchExprs.jaccard_sorted($"a", $"b").as("fast"),
      (size(array_intersect($"a", $"b")).cast("double") /
        size(array_union($"a", $"b")).cast("double")).as("slow"))
      .filter(abs($"fast" - $"slow") > 1e-12)
    assert(diff.count() == 0, "jaccard_sorted diverges from set-op jaccard")
  }

  test("ShingleHash ASCII byte fast path is hash-identical to the " +
      "string path (round-18)") {
    import org.apache.spark.unsafe.types.UTF8String
    // separator geometry, case, digits/underscore, empties, and the
    // non-ASCII inputs that MUST take the string path (U+212A KELVIN
    // SIGN lowercases into ASCII 'k' — a byte-level scan would
    // tokenize it differently, so the dispatcher has to fall back)
    val inputs = Seq(
      "", " ", "  ", "a", "A", "_x9 ", " leading sep", "trailing sep ",
      "Mixed CASE tokens", "tabs\tand\nnewlines\r\nhere",
      "double  space", "a-b.c,d;e", "0123 4567_89", "!!!", "a!b",
      "word " * 40 + "tail", "Kelvin sign", "café au lait",
      "İstanbul I", "emoji 😀 mid", "mixed ascii 中文")
    for (n <- Seq(1, 2, 3, 5); strict <- Seq(false, true)) {
      val expr = graft.functions.SketchExprs.ShingleHash(
        org.apache.spark.sql.catalyst.expressions.Literal("x"), n, strict)
      inputs.foreach { s =>
        val u = UTF8String.fromString(s)
        val fast = expr.hash(u).toLongArray().toSeq
        val slow = expr.hashViaStrings(u).toLongArray().toSeq
        assert(fast == slow, s"n=$n strict=$strict input=${s.take(30)}")
      }
    }
  }

  test("ShingleHashPacked is the byte image of ShingleHash, and " +
      "JaccardSortedPacked matches JaccardSorted on it (round-19)") {
    import org.apache.spark.unsafe.types.UTF8String
    val inputs = Seq(
      "", " ", "a", "_x9 ", " leading sep", "trailing sep ",
      "Mixed CASE tokens", "double  space", "a-b.c,d;e", "!!!",
      "word " * 40 + "tail", "Kelvin sign", "café au lait",
      "İstanbul I", "emoji 😀 mid", "the quick brown fox", "the quick")
    // the packed layout is little-endian on every host, not native order
    def unpack(bytes: Array[Byte]): Seq[Long] = {
      val lb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer()
      Seq.fill(lb.remaining)(lb.get())
    }
    val lit = org.apache.spark.sql.catalyst.expressions.Literal("x")
    for (n <- Seq(1, 2, 3, 5); strict <- Seq(false, true)) {
      val arr = graft.functions.SketchExprs.ShingleHash(lit, n, strict)
      val pk = graft.functions.SketchExprs.ShingleHashPacked(lit, n, strict)
      val jArr = graft.functions.SketchExprs.JaccardSorted(lit, lit)
      val jPk = graft.functions.SketchExprs.JaccardSortedPacked(lit, lit)
      val sets = inputs.map { s =>
        val u = UTF8String.fromString(s)
        val a = arr.hash(u).toLongArray().toSeq
        val p = pk.hashPacked(u)
        assert(unpack(p) == a, s"n=$n strict=$strict input=${s.take(30)}")
        (a, p)
      }
      for ((a, pa) <- sets; (b, pb) <- sets) {
        val viaArr = jArr.merge(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(a.toArray),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(b.toArray))
        assert(jPk.merge(pa, pb) == viaArr, s"jaccard n=$n strict=$strict")
      }
    }
  }

  test("minhashPairs equals brute-force jaccard >= threshold (LSH recall)") {
    val docs = sf("documents").select($"doc_id", $"text").limit(200)
    val variants = docs.filter(pmod($"doc_id", lit(4)) === 1)
      .select(($"doc_id" + 100000).as("doc_id"),
        concat($"text", lit(" graft dup tail")).as("text"))
    val corpus = docs.union(variants)

    val lsh = Dedup.minhashPairs(corpus, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5)
      .select($"id_a", $"id_b", round($"jaccard", 9).as("j"))

    val sh = corpus.select($"doc_id",
      graft.functions.SketchExprs.shingleHashes($"text", 3).as("s"))
    val brute = sh.as("a").crossJoin(sh.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        (size(array_intersect($"a.s", $"b.s")).cast("double") /
          size(array_union($"a.s", $"b.s")).cast("double")).as("j"))
      .filter($"j" >= 0.5)
      .select($"id_a", $"id_b", round($"j", 9).as("j"))

    assert(lsh.count() > 0, "expected near-dup pairs in fixture+variants")
    assert(lsh.exceptAll(brute).isEmpty && brute.exceptAll(lsh).isEmpty)
  }

  test("minhashPairs hot-bucket cap drops oversized buckets") {
    // 30 identical docs → every bucket has 30 members; cap 10 → no pairs
    val same = (1L to 30L).map(i => (i, "the same boilerplate text repeated here"))
      .toDF("id", "text")
    val capped = Dedup.minhashPairs(same, "id", "text", maxBucketSize = 10)
    assert(capped.count() == 0)
    val uncapped = Dedup.minhashPairs(same, "id", "text")
    assert(uncapped.count() == 30L * 29 / 2)
  }

  test("simhash: word-order-insensitive grouping; hamming on near sets") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"),      // same word set → same simhash
      (3L, "completely different words entirely elsewhere")
    ).toDF("id", "text")
    val out = Dedup.simhash(df, "id", "text").orderBy("id").collect()
    assert(out(0).getLong(1) == out(1).getLong(1))
    assert(out(1).getBoolean(3), "id=2 duplicates id=1")
    assert(out(0).getLong(1) != out(2).getLong(1))
    val hd = df.filter($"id" isin (1L, 3L))
      .select(graft.functions.SketchExprs.simhash64(
        graft.functions.SketchExprs.shingleHashes($"text", 1)).as("s"))
      .agg(collect_list($"s")).head.getSeq[Long](0)
    assert(java.lang.Long.bitCount(hd(0) ^ hd(1)) > 0)
  }

  test("simhashPairs: banded pigeonhole finds all pairs within maxHamming") {
    val docs = sf("documents").select($"doc_id", $"text").limit(150)
    // brute force ground truth
    val sigs = docs.select($"doc_id".as("id"),
      graft.functions.SketchExprs.simhash64(
        graft.functions.SketchExprs.shingleHashes($"text", 1)).as("sig"))
    val brute = sigs.as("a").crossJoin(sigs.as("b"))
      .filter($"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"),
        Dedup.hamming($"a.sig", $"b.sig").as("hamming"))
      .filter($"hamming" <= 3)
    val banded = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
    assert(banded.exceptAll(brute).isEmpty && brute.exceptAll(banded).isEmpty)
    // maxHamming >= bands engages the multi-index perturbed-key path
    // (r = 1, radius-1 balls) — recall must still be total vs brute
    val brute4 = sigs.as("a").crossJoin(sigs.as("b"))
      .filter($"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"),
        Dedup.hamming($"a.sig", $"b.sig").as("hamming"))
      .filter($"hamming" <= 4)
    val banded4 = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 4)
    assert(banded4.exceptAll(brute4).isEmpty &&
      brute4.exceptAll(banded4).isEmpty)
    // chunk widths < 8 bits are rejected loudly (16-value bucket keys
    // saturate the cap at scale and would silently return zero pairs)
    val narrow = intercept[IllegalArgumentException](
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, bands = 16))
    assert(narrow.getMessage.contains("chunk width"))
  }

  test("multi-index Hamming: pigeonhole recall at d <= 10 over 4 bands, " +
      "and selective keys where 4-bit banding would silently saturate") {
    // recall pigeonhole: plant pairs at EVERY distance 0..10 by
    // flipping exactly d deterministically-chosen bits; bands = 4 →
    // some band differs by <= floor(10/4) = 2 bits and the radius-1
    // balls around those chunks intersect — every planted pair must
    // surface
    val rng = new scala.util.Random(42)
    val bases = Array.fill(200)(rng.nextLong())
    val planted = (0 to 10).flatMap { d =>
      (0 until 4).map { k =>
        val base = bases(d * 4 + k)
        var sig = base
        // flip d distinct bit positions derived from (d, k)
        val positions = new scala.util.Random(d * 131L + k)
          .shuffle((0 until 64).toList).take(d)
        positions.foreach(p => sig ^= (1L << p))
        (d, k, base, sig)
      }
    }
    val rows = planted.zipWithIndex.flatMap { case ((d, k, a, b), i) =>
      Seq((i * 2L + 1000000L, a), (i * 2L + 1000001L, b))
    }
    val sigs = rows.toDF("id", "sig")
    val pairs = Dedup.bandedHammingPairs(sigs, maxHamming = 10, bands = 4,
        maxBucketSize = 100000)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    planted.zipWithIndex.foreach { case ((d, _, _, _), i) =>
      assert(pairs.contains((i * 2L + 1000000L, i * 2L + 1000001L)),
        s"planted pair at distance $d (index $i) missed — pigeonhole " +
          "recall broken")
    }
    // saturation: 5000 uniform-random sigs + planted near-dups under a
    // cap of 200. The former 16-band/4-bit default puts ~5000/16 = 312
    // items in EVERY (band, chunk) bucket — all poisoned, silent empty
    // output. The multi-index keys (65536 values/band) keep buckets
    // tiny: the planted pairs must all surface.
    val r2 = new scala.util.Random(7)
    val noise = (0 until 5000).map(i => (i.toLong, r2.nextLong()))
    val plantedNear = (0 until 20).map { i =>
      val a = noise(i * 37)._2
      (900000L + i, a ^ (1L << (i % 64)) ^ (1L << ((i + 31) % 64)))
    }
    val corpus = (noise ++ plantedNear).toDF("id", "sig")
    val found = Dedup.bandedHammingPairs(corpus, maxHamming = 10,
        bands = 4, maxBucketSize = 200)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    (0 until 20).foreach { i =>
      val pair = (noise(i * 37)._1.min(900000L + i),
        noise(i * 37)._1.max(900000L + i))
      assert(found.contains(pair),
        s"planted near-dup $i lost under cap=200 — keys not selective")
    }
  }

  test("ngramJaccardPairs: exact blocked pairs match unblocked on same block") {
    val docs = sf("documents").select($"doc_id", $"text", $"lang").limit(200)
    val blocked = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.3, blockingCols = Seq("lang"))
    val global = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.3)
    // blocked ⊆ global, and any global pair within one lang is in blocked
    assert(blocked.exceptAll(global).isEmpty)
    val langOf = docs.select($"doc_id", $"lang")
    val sameLang = global
      .join(langOf.select($"doc_id".as("id_a"), $"lang".as("la")), "id_a")
      .join(langOf.select($"doc_id".as("id_b"), $"lang".as("lb")), "id_b")
      .filter($"la" === $"lb").select($"id_a", $"id_b", $"jaccard")
    assert(sameLang.exceptAll(blocked).isEmpty)
  }

  test("IvfIndex: cell assignment prunes, recall vs brute force, exact cosines") {
    val emb = sf("embeddings")
    val idx = Similarity.IvfIndex(nlist = 8)
    val cents = idx.centroids(emb, "vec_id", "embedding")
    assert(cents.length == 8 && cents.head.size == 64)
    val indexed = idx.build(emb, "embedding", cents).cache()
    val cells = indexed.select($"ivf_cell").distinct().as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < 8) && cells.length > 1)

    val qv = emb.filter($"vec_id" === 3).select($"embedding")
      .head.getSeq[Float](0).map(_.toDouble).toSeq
    val ann = idx.topK(indexed, cents, "vec_id", "embedding", qv, 10, nprobe = 3)
      .collect()
    assert(ann.head.getLong(0) == 3L, "query vector found first")
    val exact = Similarity.scoresForQuery(emb, "vec_id", "embedding", qv, 9)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ann.foreach(r => assert(math.abs(r.getDouble(1) - exact(r.getLong(0))) < 1e-6))
    // pruning is real: probed cells hold fewer rows than the table
    val probed = indexed.filter($"ivf_cell"
      .isin(idx.probeCells(cents, qv, 3): _*)).count()
    assert(probed < emb.count())
    indexed.unpersist()
  }

  test("IvfIndex: Lloyd-trained centroids beat (or match) the raw hash sample") {
    val emb = sf("embeddings")
    val idx = Similarity.IvfIndex(nlist = 8, kmeansIters = 3)
    val trained = idx.centroids(emb, "vec_id", "embedding")
    val sampled = idx.initialCentroids(emb, "vec_id", "embedding")
    assert(trained.length == sampled.length)
    // training moved the centroids off their raw seed positions
    assert(trained.zip(sampled).exists { case (t, s) => t != s })

    def recallAt10(cents: Array[Seq[Double]]): Double = {
      val indexed = idx.build(emb, "embedding", cents).cache()
      val queries = Seq(1L, 5L, 7L, 13L, 19L, 23L, 29L, 31L)
      val r = queries.map { q =>
        val qv = emb.filter($"vec_id" === q).select($"embedding")
          .head.getSeq[Float](0).map(_.toDouble).toSeq
        val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 10)
          .select($"vec_id").as[Long].collect().toSet
        val got = idx.topK(indexed, cents, "vec_id", "embedding", qv, 10, nprobe = 2)
          .select($"vec_id").as[Long].collect().toSet
        (truth intersect got).size.toDouble / truth.size
      }.sum / queries.size
      indexed.unpersist()
      r
    }
    // Lloyd minimizes within-cell SSE, not recall, and avg() partial-sum
    // order can move borderline assignments by ulps between runs — so
    // pin "does not lose recall" with a small tolerance (≈2 of 80
    // results), plus an absolute floor
    val trainedRecall = recallAt10(trained)
    assert(trainedRecall >= recallAt10(sampled) - 0.03,
      "k-means cells must not lose recall vs the hash-sampled stand-in")
    assert(trainedRecall > 0.3, s"trained recall degenerate: $trainedRecall")
  }

  test("PqIndex: codebook shape, codes in range, ADC ranks the query's " +
      "own code first, trained books beat seed books on distortion") {
    val emb = sf("embeddings")
    val pq = Similarity.PqIndex(m = 4, ksub = 16, kmeansIters = 0)
    val seedBooks = pq.codebooks(emb, "vec_id", "embedding", dim = 64)
    assert(seedBooks.length == 4 &&
      seedBooks.forall(b => b.length == 16 && b.forall(_.size == 16)))
    val encoded = pq.encode(emb, "embedding", seedBooks).cache()
    val codes = encoded.select($"pq_code").as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 4 && c.forall(j => j >= 0 && j < 16)))
    // a SEED vector quantizes exactly to itself: vec 7 is centroid 7
    // in every block, so its ADC distance to itself as query is 0
    val q7 = emb.filter($"vec_id" === 7).select($"embedding")
      .head.getSeq[Float](0).map(_.toDouble).toSeq
    val top = pq.topK(encoded, "vec_id", seedBooks, q7, k = 5).collect()
    assert(top.head.getLong(0) == 7L && top.head.getDouble(1) == 0.0,
      s"seed vector must ADC-score 0 against itself: ${top.head}")
    // ADC approximates true distance: top-5 by ADC overlaps top-10
    // exact L2 (sanity, not a recall pin — ksub 16 is coarse)
    val exactTop = emb
      .select($"vec_id", graft.functions.VectorExprs
        .cosine_sim($"embedding", typedLit(q7)).as("c"))
      .orderBy($"c".desc, $"vec_id").limit(10)
      .select($"vec_id").as[Long].collect().toSet
    assert(top.map(_.getLong(0)).count(exactTop) >= 2,
      "ADC ranking diverged completely from exact similarity")
    // trained codebooks reduce total quantization distortion vs seeds
    def distortion(books: Array[Array[Seq[Double]]]): Double =
      pq.encode(emb, "embedding", books)
        .select($"embedding", $"pq_code").as[(Seq[Float], Seq[Int])]
        .collect().map { case (v, c) =>
          (0 until 4).map { b =>
            val block = v.slice(b * 16, (b + 1) * 16).map(_.toDouble)
            block.zip(books(b)(c(b))).map { case (x, y) =>
              (x - y) * (x - y) }.sum
          }.sum
        }.sum
    val trained = Similarity.PqIndex(m = 4, ksub = 16, kmeansIters = 3)
      .codebooks(emb, "vec_id", "embedding", dim = 64)
    assert(distortion(trained) < distortion(seedBooks),
      "Lloyd rounds must reduce quantization distortion")
    encoded.unpersist()
    // ragged blocks are a loud error, not silent misalignment
    intercept[IllegalArgumentException](
      pq.codebooks(emb, "vec_id", "embedding", dim = 63))
    // a corpus vector LONGER than dim would be silently truncated by
    // the block slice — the corpus-wide size guard fails loudly
    // instead (r11 ADVICE); the long vector hides at a high id so the
    // id-ASC seed collect alone cannot catch it
    val ragged = emb.select($"vec_id", $"embedding")
      .union(Seq((999999L, Seq.fill(80)(0.5f))).toDF("vec_id", "embedding"))
    val err = intercept[IllegalArgumentException](
      Similarity.PqIndex(m = 4, ksub = 4, kmeansIters = 0)
        .codebooks(ragged, "vec_id", "embedding", dim = 64))
    assert(err.getMessage.contains("vector sizes span"), err.getMessage)
  }

  test("IvfPq: pruning + ADC shortlist + exact rerank — exactness at " +
      "full knobs, useful recall at production knobs") {
    val emb = sf("embeddings")
    val ivf = Similarity.IvfIndex(nlist = 8, kmeansIters = 2)
    val cents = ivf.centroids(emb, "vec_id", "embedding")
    val pq = Similarity.PqIndex(m = 4, ksub = 16, kmeansIters = 1)
    val books = pq.codebooks(emb, "vec_id", "embedding", dim = 64)
    val indexed = pq.encode(ivf.build(emb, "embedding", cents),
      "embedding", books).cache()
    val qv = emb.filter($"vec_id" === 11).select($"embedding")
      .head.getSeq[Float](0).map(_.toDouble).toSeq
    val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      qv, 10).select($"vec_id").as[Long].collect().toSeq
    // exactness knobs: all cells probed, rerank covers the corpus
    val full = Similarity.IvfPq.topK(indexed, cents, pq, books,
        "vec_id", "embedding", qv, k = 10, nprobe = 8, rerank = 1000000)
      .select($"vec_id").as[Long].collect().toSeq
    assert(full == truth, "full knobs must equal brute force exactly")
    // production knobs: useful recall, and the query's own vector is
    // always found (its cell is probed first, ADC distance 0 region)
    val prod = Similarity.IvfPq.topK(indexed, cents, pq, books,
        "vec_id", "embedding", qv, k = 10, nprobe = 3, rerank = 60)
      .select($"vec_id").as[Long].collect().toSeq
    assert(prod.head == 11L, "query vector found first")
    assert((prod.toSet intersect truth.toSet).size >= 5,
      s"production-knob recall degenerate: $prod vs $truth")
    // rerank < k is a loud error
    intercept[IllegalArgumentException](
      Similarity.IvfPq.topK(indexed, cents, pq, books,
        "vec_id", "embedding", qv, k = 10, nprobe = 2, rerank = 5))
    indexed.unpersist()
  }

  test("connected dedup collapses transitive near-dup chains") {
    // a ~ b ~ c but jaccard(a, c) < 0.5: single-pass leaves c → b,
    // converged closure gives c → a
    val base = (1 to 12).map(i => s"tok$i").mkString(" ")
    val t1 = base
    val t2 = base + " xa xb xc xd xe"                    // j(t1,t2) = 10/17 ≈ 0.59
    val t3 = base + " xa xb xc xd xe ya yb yc yd ye za zb" // j(t2,t3): high; j(t1,t3) = 10/27 ≈ 0.37
    val df = Seq((1L, t1), (2L, t2), (3L, t3)).toDF("id", "text")
    val pairs = Dedup.minhashPairs(df, "id", "text", bands = 32, threshold = 0.5)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L), (2L, 3L)), s"chain shape: ${pairs.toSeq}")

    val single = Dedup.minhashDedup(df, "id", "text", threshold = 0.5, bands = 32)
      .orderBy($"id").collect().map(_.getLong(1)).toSeq
    assert(single == Seq(1L, 1L, 2L), "single pass: c points at b")

    val closed = Dedup.minhashDedupConnected(df, "id", "text",
        threshold = 0.5, bands = 32)
      .orderBy($"id").collect().map(_.getLong(1)).toSeq
    assert(closed == Seq(1L, 1L, 1L), "closure: whole chain → a")
  }

  test("convergeCanonicals drives long chains to the fixpoint (4+ rounds)") {
    // a path graph 1-2-3-4-5-6 needs FOUR propagation rounds after the
    // seed; a broken fixpoint flag (loop exiting early) leaves the tail
    // pointing at an intermediate vertex — this is the direct guard on
    // the observe-riding changed-count
    val ids = spark.range(1, 7).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("id_a", "id_b")
    val out = Dedup.convergeCanonicals(ids, pairs, "id")
      .orderBy("id").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq.fill(6)(1L),
      s"chain did not fully converge: ${out.map(_.getLong(1)).toSeq}")
    assert(out.map(_.getBoolean(2)).toSeq ==
      false +: Seq.fill(5)(true))
  }

  test("prefixJaccardJoin equals brute force (full recall, exact scores)") {
    // adversarial mix: shared stop-word-like tokens everywhere (they
    // must land in suffixes, not join keys), a high-sim pair, a pair
    // exactly AT the threshold, pairs just below, and size-skewed docs
    val docs = Seq(
      (1L, "the of and alpha beta gamma delta"),
      (2L, "the of and alpha beta gamma epsilon"),     // J(1,2)=6/8=0.75
      (3L, "the of and zeta eta theta iota"),
      (4L, "the of and zeta eta theta iota"),          // J(3,4)=1.0
      (5L, "the of and kappa"),                        // small doc
      (6L, "the of and kappa lambda mu nu xi"),        // J(5,6)=4/8=0.5 → at t
      (7L, "completely different words here entirely"),
      (8L, "the of and")                               // only stop words
    ).toDF("id", "text")

    val got = Dedup.prefixJaccardJoin(docs, "id", "text", threshold = 0.5)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // brute force over hashed unigram sets (same token definition)
    import graft.functions.SketchExprs.{shingleHashes, jaccard_sorted}
    val tk = docs.select($"id", shingleHashes($"text", 1, strict = true).as("hs"))
    val brute = tk.alias("a")
      .crossJoin(tk.select($"id".as("id_b"), $"hs".as("hs_b")))
      .filter($"id" < $"id_b")
      .select($"id", $"id_b", jaccard_sorted($"hs", $"hs_b").as("j"))
      .filter($"j" >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    assert(got == brute, s"prefix join diverged:\n got=$got\n exp=$brute")
    assert(got.contains((5L, 6L, 0.5)), "threshold-boundary pair lost")
    assert(brute.exists { case (a, b, _) => a == 3L && b == 4L })
  }

  test("keepBestPerComponent keeps the argmax row per component, tie → min id") {
    // components: {1,2,3} and {4,5}; scores make 2 win the first (tie
    // between 2 and 3 at score 9 → min id 2), 5 win the second outright
    val docs = Seq((1L, 5.0), (2L, 9.0), (3L, 9.0), (4L, 1.0), (5L, 2.0))
      .toDF("id", "score")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("id", "canonical_id")
    val kept = Dedup.keepBestPerComponent(docs, comps, "id", $"score")
      .orderBy($"id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(2L, 5L), s"wrong survivors: $kept")
  }

  test("corpusContainment: hand-counted shingle sets, disjoint and identical") {
    // A's docs: trigrams {a b c, b c d} and {x y z}; B shares doc1
    // exactly and adds one novel doc {p q r}
    val a = Seq("a b c d", "x y z").toDF("text")
    val b = Seq("a b c d", "p q r").toDF("text")
    val r = Contamination.corpusContainment(a, b, "text").collect()(0)
    assert(r.getAs[Long]("n_a") == 3L)     // {abc, bcd, xyz}
    assert(r.getAs[Long]("n_b") == 3L)     // {abc, bcd, pqr}
    assert(r.getAs[Long]("n_common") == 2L)
    assert(r.getAs[Double]("containment_b_in_a") == 2.0 / 3)
    assert(r.getAs[Double]("jaccard") == 2.0 / 4)
    // identical corpora: containment and jaccard both 1
    val same = Contamination.corpusContainment(a, a, "text").collect()(0)
    assert(same.getAs[Double]("containment_b_in_a") == 1.0 &&
      same.getAs[Double]("jaccard") == 1.0)
    // disjoint: both 0
    val disj = Contamination.corpusContainment(
      a, Seq("p q r s").toDF("text"), "text").collect()(0)
    assert(disj.getAs[Long]("n_common") == 0L &&
      disj.getAs[Double]("jaccard") == 0.0)
    intercept[IllegalArgumentException](
      Contamination.corpusContainment(a, b, "nope"))
  }

  test("softWeights: 1/|component| mass, custom column, guards") {
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L))
      .toDF("id", "canonical_id")
    val out = Dedup.softWeights(comps, "id").orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, 3L, 1.0 / 3), (2L, 1L, 3L, 1.0 / 3), (3L, 1L, 3L, 1.0 / 3),
      (4L, 4L, 1L, 1.0), (5L, 5L, 1L, 1.0)))
    // total mass = number of components
    assert(math.abs(out.map(_._4).sum - 3.0) < 1e-12)
    // any dedup family's component column name works
    val renamed = Dedup.softWeights(
      comps.withColumnRenamed("canonical_id", "component"),
      "id", "component")
    assert(renamed.columns.toSeq ==
      Seq("id", "component", "dup_count", "weight"))
    // loud on missing/clashing columns
    intercept[IllegalArgumentException](Dedup.softWeights(comps, "nope"))
    intercept[IllegalArgumentException](Dedup.softWeights(
      comps.withColumn("weight", lit(1.0)), "id"))
  }

  test("connectedWithBest ≡ the two-call composition, one frame, both signals") {
    // chained variants: orig ~ v1 ~ v2 per picked doc (transitive
    // component of 3); v2 is longest so it wins each component
    val docs = (1L to 12L)
      .map(i => (i, s"document body number $i with several shared words " * 3))
      .toDF("id", "text")
    val picked = docs.filter($"id" % 4 === 1)
    val v1 = picked.select(($"id" + 100).as("id"),
      concat($"text", lit(" tail")).as("text"))
    val v2 = picked.select(($"id" + 200).as("id"),
      concat($"text", lit(" tail plus more pad")).as("text"))
    val corpus = docs.union(v1).union(v2)
    val fused = Dedup.connectedWithBest(corpus, "id", "text",
      org.apache.spark.sql.functions.length($"text"),
      threshold = 0.5, numHashes = 64, bands = 32)
    // equality vs composing the two public calls separately
    val comps = Dedup.minhashDedupConnected(corpus, "id", "text",
      threshold = 0.5, numHashes = 64, bands = 32)
    val winners = Dedup.keepBestPerComponent(corpus, comps, "id",
        org.apache.spark.sql.functions.length($"text"))
      .select($"id").as[Long].collect().toSet
    val compMap = comps.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val rows = fused.collect()
    assert(rows.length == compMap.size, "one row per id")
    rows.foreach { r =>
      val (id, can, dup, best) =
        (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3))
      assert(compMap(id) == ((can, dup)), s"component drift at $id")
      assert(best == winners.contains(id), s"winner drift at $id")
    }
    // exactly one winner per component, singletons win themselves
    val byComp = rows.groupBy(_.getLong(1))
    byComp.foreach { case (c, rs) =>
      assert(rs.count(_.getBoolean(3)) == 1, s"component $c winner count")
    }
  }

  test("capped collect: at-cap kept, over-cap bucket drops, pairs ride sigs") {
    import graft.functions.CollectCapped._
    val df = (1L to 10L).map(i => (i, i % 3)).toDF("id", "g")
    // cap 4: group g=1 has ids {1,4,7,10} (exactly at cap) → kept sorted;
    // cap 3 would poison it → NULL
    val at = df.groupBy($"g").agg(collect_longs_capped($"id", 4).as("ids"))
      .orderBy($"g").collect()
    assert(at.map(r => Option(r.getSeq[Long](1)).map(_.toSeq)).toSeq == Seq(
      Some(Seq(3L, 6L, 9L)), Some(Seq(1L, 4L, 7L, 10L)), Some(Seq(2L, 5L, 8L))))
    val over = df.groupBy($"g").agg(collect_longs_capped($"id", 3).as("ids"))
      .orderBy($"g").collect()
    assert(Option(over(1).getSeq[Long](1)).isEmpty, "over-cap group must be NULL")
    assert(Option(over(0).getSeq[Long](1)).map(_.toSeq).contains(Seq(3L, 6L, 9L)))
    // pairs variant: sorted by id, values ride along
    val p = df.groupBy($"g")
      .agg(collect_long_pairs_capped($"id", $"id" * 100, 4).as("ps"))
      .orderBy($"g").collect()
    val g1 = p(1).getSeq[org.apache.spark.sql.Row](1)
    assert(g1.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((1L, 100L), (4L, 400L), (7L, 700L), (10L, 1000L)))
    assert(Option(df.groupBy($"g")
      .agg(collect_long_pairs_capped($"id", $"id", 3).as("ps"))
      .orderBy($"g").collect()(1).getSeq[org.apache.spark.sql.Row](1)).isEmpty)
    // SQL registration: same capped semantics through spark.sql
    graft.functions.CollectCapped.register(spark)
    df.createOrReplaceTempView("cc_sql")
    val sql = spark.sql(
      """SELECT g, collect_longs_capped(id, 4) AS ids,
        |  collect_long_pairs_capped(id, id * 100, 4) AS ps
        |FROM cc_sql GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(Option(sql(1).getSeq[Long](1)).map(_.toSeq)
      .contains(Seq(1L, 4L, 7L, 10L)))
    assert(sql(1).getSeq[org.apache.spark.sql.Row](2)
      .map(r => (r.getLong(0), r.getLong(1))).head == (1L, 100L))
    intercept[graft.core.GraftError.Configuration](
      spark.sql("SELECT collect_longs_capped(id, g) FROM cc_sql GROUP BY g")
        .collect())
    // int ids implicitly widen (regression: used to CCE at runtime)
    val intIds = (1 to 6).map(i => (i, i % 2)).toDF("id", "g")
    val widened = intIds.groupBy($"g")
      .agg(collect_longs_capped($"id", 10).as("ids")).orderBy($"g").collect()
    assert(widened(0).getSeq[Long](1).toSeq == Seq(2L, 4L, 6L))
    // ...and minhashPairs works end-to-end on an int id column
    val intDocs = Seq((1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    assert(Dedup.minhashPairs(intDocs, "doc_id", "text", nGram = 1).count() == 1)
  }

  test("nearDupAgainstReference: drops ref copies and near-copies only") {
    val ref = Seq("alpha beta gamma delta epsilon zeta eta theta")
      .toDF("text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),         // exact ref copy
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota xx"), // near-dup of ref
      (3L, "completely different words about other subject matter"), // kept
      (4L, "xy")                                                     // tiny, kept
    ).toDF("id", "text")
    val kept = Dedup.nearDupAgainstReference(corpus, ref, "id", "text",
        bands = 32, threshold = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L), s"kept=$kept")
    // exact-duplicate refs collapse before the capped bucket collect:
    // two copies must not poison a bucket capped at one reference
    val twiceRef = ref.union(ref)
    val keptTwice = Dedup.nearDupAgainstReference(corpus, twiceRef, "id", "text",
        bands = 32, threshold = 0.5, maxBucketSize = 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptTwice == Set(3L, 4L), s"kept with duplicate refs=$keptTwice")
    // empty reference keeps everything; empty corpus stays empty
    val noRef = Seq.empty[String].toDF("text")
    assert(Dedup.nearDupAgainstReference(corpus, noRef, "id", "text")
      .count() == 4)
    val noCorpus = Seq.empty[(Long, String)].toDF("id", "text")
    assert(Dedup.nearDupAgainstReference(noCorpus, ref, "id", "text")
      .count() == 0)
  }

  test("dedup operators handle empty and singleton corpora") {
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    assert(Dedup.exact(empty, "id", Seq("text")).count() == 0)
    assert(Dedup.minhashPairs(empty, "id", "text").count() == 0)
    assert(Dedup.minhashDedupConnected(empty, "id", "text").count() == 0)
    assert(Dedup.simhashPairs(empty, "id", "text").count() == 0)
    val one = Seq((1L, "a solitary document")).toDF("id", "text")
    val c = Dedup.minhashDedupConnected(one, "id", "text").collect()
    assert(c.length == 1 && c.head.getLong(1) == 1L && !c.head.getBoolean(2))
    val noVecs = Seq.empty[(Long, Seq[Float])].toDF("id", "vec")
    assert(Dedup.embeddingPairs(noVecs, "id", "vec").count() == 0,
      "empty embedding frame must not need a dim probe")
  }

  test("embeddingDedup decision mirrors embeddingPairs") {
    val vecs = Seq(
      (5L, Seq(1.0f, 0.0f, 0.5f, 0.2f)),
      (9L, Seq(1.0f, 0.0f, 0.5f, 0.2f)),
      (3L, Seq(-1.0f, 0.3f, -0.5f, 0.0f))
    ).toDF("id", "vec")
    val out = Dedup.embeddingDedup(vecs, "id", "vec").orderBy($"id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq ==
      Seq((3L, 3L, false), (5L, 5L, false), (9L, 5L, true)))
  }

  test("SQL registration exposes all four sketch functions") {
    graft.functions.SketchExprs.register(spark)
    sf("documents").limit(20).createOrReplaceTempView("docs_sql")
    val r = spark.sql(
      """SELECT doc_id, simhash64(shingle_hashes(text)) AS sig,
        |  jaccard_sorted(shingle_hashes(text), shingle_hashes(text)) AS self_j,
        |  size(minhash_bands(shingle_hashes(text))) AS n_bands
        |FROM docs_sql""".stripMargin).collect()
    assert(r.length == 20)
    r.foreach { row =>
      assert(row.getDouble(2) == 1.0)
      assert(row.getInt(3) == 16)
    }
  }

  test("SQL registration parses literal parameters; rejects bad args") {
    graft.functions.SketchExprs.register(spark)
    sf("documents").limit(10).createOrReplaceTempView("docs_sql_args")
    // explicit numHashes/bands reach the expression (128/32, not 64/16)
    val r = spark.sql(
      """SELECT size(minhash_bands(shingle_hashes(text, 2), 128, 32)) AS n,
        |  shingle_hashes(text, 1) AS unigrams, shingle_hashes(text) AS trigrams
        |FROM docs_sql_args""".stripMargin).collect()
    r.foreach(row => assert(row.getInt(0) == 32))
    // n=1 and default n=3 genuinely differ
    assert(r.exists(row =>
      row.getSeq[Long](1) != row.getSeq[Long](2)))
    // SQL output equals the Column API with the same parameters
    val viaSql = spark.sql(
      "SELECT minhash_bands(shingle_hashes(text, 2), 128, 32) AS b FROM docs_sql_args")
    val viaCol = sf("documents").limit(10).select(
      graft.functions.SketchExprs.minhash_bands(
        graft.functions.SketchExprs.shingleHashes($"text", 2), 128, 32).as("b"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
    // non-foldable parameter → loud error, never a silent default
    intercept[graft.core.GraftError.Configuration](
      spark.sql("SELECT shingle_hashes(text, doc_id) FROM docs_sql_args").collect())
    // wrong arity → loud error
    intercept[graft.core.GraftError.Configuration](
      spark.sql("SELECT minhash_bands(shingle_hashes(text), 128) FROM docs_sql_args")
        .collect())
  }

  test("embeddingPairs finds identical vectors, verifies cosine") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.5f, 0.2f)),
      (2L, Seq(1.0f, 0.0f, 0.5f, 0.2f)),   // identical → cosine 1
      (3L, Seq(-1.0f, 0.3f, -0.5f, 0.0f))  // far away
    ).toDF("id", "vec")
    val pairs = Dedup.embeddingPairs(vecs, "id", "vec", threshold = 0.95)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(math.abs(pairs.head.getDouble(2) - 1.0) < 1e-12)
  }

  test("bruteForceTopK consistent with scoresForQuery ordering") {
    val emb = sf("embeddings")
    val qv = emb.filter($"vec_id" === 0).select($"embedding")
      .head.getSeq[Float](0).map(_.toDouble).toSeq
    val topK = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 10)
      .select($"vec_id").as[Long].collect().toSeq
    val expected = Similarity.scoresForQuery(emb, "vec_id", "embedding", qv, 12)
      .orderBy($"cosine".desc, $"vec_id").limit(10)
      .select($"vec_id").as[Long].collect().toSeq
    assert(topK == expected)
    assert(topK.head == 0L, "query vector itself is its own nearest neighbor")
  }

  test("SrpIndex.topK: pruned scan, exact cosines within probed buckets") {
    val emb = sf("embeddings")
    val qv = emb.filter($"vec_id" === 7).select($"embedding")
      .head.getSeq[Float](0).map(_.toDouble).toSeq
    val idx = Similarity.SrpIndex(planes = 8)
    val indexed = idx.build(emb, "embedding").cache()
    val ann = idx.topK(indexed, "vec_id", "embedding", qv, 5).collect()
    assert(ann.nonEmpty && ann.head.getLong(0) == 7L)
    // cosines must equal the exact scores for the same ids
    val exact = Similarity.scoresForQuery(emb, "vec_id", "embedding", qv, 9)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ann.foreach(r =>
      assert(math.abs(r.getDouble(1) - exact(r.getLong(0))) < 1e-6))
    // probes prune: scanned buckets ⊆ planes+1 of 2^planes
    assert(idx.probes(qv).size == 9)
    indexed.unpersist()
  }

  test("text analysis basics: counts, langId, fingerprint stability") {
    val df = Seq(
      (1L, "the cat and the dog, it is fine for now!"),
      (2L, "der Hund ist nicht auf der Katze zu sehen"),
      (3L, "xyzzy plugh 12345")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.analyze(df, "text").orderBy("doc_id").collect()
    val en = out(0); val de = out(1); val und = out(2)
    assert(en.getAs[String]("lang_guess") == "en")
    assert(de.getAs[String]("lang_guess") == "de")
    assert(und.getAs[String]("lang_guess") == "und")
    assert(en.getAs[Long]("word_count") == 10L)
    assert(en.getAs[Long]("char_len") == 40L)
    // fingerprint invariant under whitespace/case changes
    val fp = Seq((1L, "Hello   World"), (2L, "hello world"))
      .toDF("id", "t")
      .select(TextAnalysis.fingerprint($"t").as("f")).distinct().count()
    assert(fp == 1L)
  }

  test("corpusProfile: one row, duplication via fingerprints, approx path") {
    val df = Seq(
      (1L, "the cat and the dog sat on the mat today"),
      (2L, "the cat  and the dog sat on  the mat today"), // ws variant → same fp
      (3L, "an entirely different document about trains"),
      (4L, "short one")
    ).toDF("doc_id", "text")
    val p = TextAnalysis.corpusProfile(df, "text").head
    assert(p.getAs[Long]("n_docs") == 4L)
    assert(p.getAs[Long]("distinct_fingerprints") == 3L) // 1+2 collapse
    assert(p.getAs[Long]("min_chars") == 9L)
    assert(p.getAs[Long]("total_words") ==
      df.select(TextAnalysis.wordCount($"text")).collect().map(_.getInt(0)).sum)
    val q = p.getAs[Double]("avg_quality")
    assert(q > 0.0 && q <= 1.0)
    // HLL path: same shape, count close on a tiny corpus
    val a = TextAnalysis.corpusProfile(df, "text", exactDistinct = false).head
    assert(a.getAs[Long]("n_docs") == 4L)
    assert(math.abs(a.getAs[Long]("distinct_fingerprints") - 3L) <= 1L)
  }

  test("repartitionBySize isolates outlier blobs from the bulk") {
    val target = 1000L
    val rows = (1L to 40L).map(i => (i, "image", Array.fill(100)(i.toByte))) :+
      (99L, "video", Array.fill(5000)(7.toByte)) // one 5x-target blob
    val media = rows.toDF("media_id", "media_type", "payload")
    val parted = Multimodal.repartitionBySize(media, target)
    // 40*100 small bytes → 4 buckets, +1 big blob → 5 partitions
    assert(parted.rdd.getNumPartitions == 5)
    val perPart = parted
      .select(spark_partition_id().as("p"), length($"payload").cast("long").as("b"),
        $"media_id")
      .groupBy($"p").agg(sum($"b").as("bytes"), collect_list($"media_id").as("ids"))
      .collect()
    val bigPart = perPart.find(_.getSeq[Long](2).contains(99L)).get
    assert(bigPart.getSeq[Long](2) == Seq(99L), "outlier blob shares a task")
    // the bulk side is hash-approximate (balances at scale, not at n=40):
    // just check every small row landed in a small bucket
    assert(perPart.filterNot(_.getSeq[Long](2).contains(99L))
      .map(_.getSeq[Long](2).size).sum == 40)
  }

  test("multimodal resize + frame sampling: contracts, determinism, no shuffle") {
    val media = Multimodal.mediaFromDocuments(
      spark, "/root/testdata/sf0.001/documents.parquet")
    val resized = Multimodal.resize(media, 224, 224)
    assert(resized.schema == Multimodal.resizedSchema)
    val r0 = resized.orderBy($"media_id").head
    assert(r0.getInt(1) == 224 && r0.getInt(2) == 224)
    assert(r0.getAs[Array[Byte]]("payload").length == 224 * 224 / 64)
    // deterministic across runs
    assert(resized.orderBy($"media_id").head.getAs[Array[Byte]]("payload").toSeq ==
      Multimodal.resize(media, 224, 224).orderBy($"media_id")
        .head.getAs[Array[Byte]]("payload").toSeq)

    val frames = Multimodal.frameSample(media, frameBytes = 64, stride = 2)
    assert(frames.schema == Multimodal.frameSchema)
    val perVideo = frames.groupBy($"media_id").count()
    assert(perVideo.count() ==
      media.filter($"media_type" === "video").count())
    assert(frames.filter($"frame_idx" % 2 =!= 0).count() == 0, "stride respected")
    // both stages are narrow: no shuffles in either plan
    Seq(resized, frames).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"stage must be narrow:\n$plan")
    }
  }

  test("multimodal audio hash: volume-scale and DC-offset invariance, " +
      "structure sensitivity, pairs via banded Hamming, honest boundary") {
    // minimal PCM16 WAV writer for hand-controlled samples
    def wav(samples: Array[Int]): Array[Byte] = {
      val data = new Array[Byte](samples.length * 2)
      samples.indices.foreach { i =>
        data(2 * i) = (samples(i) & 0xff).toByte
        data(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      }
      val bos = new java.io.ByteArrayOutputStream()
      def le32(v: Int) = bos.write(Array[Byte](
        (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte))
      def le16(v: Int) = bos.write(Array[Byte](
        (v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
      bos.write("RIFF".getBytes); le32(36 + data.length)
      bos.write("WAVE".getBytes)
      bos.write("fmt ".getBytes); le32(16); le16(1); le16(1)
      le32(8000); le32(16000); le16(2); le16(16)
      bos.write("data".getBytes); le32(data.length); bos.write(data)
      bos.toByteArray
    }
    // a structured mid-range waveform with margin (|s| <= 8000, so the
    // x2 and +1000 variants stay inside PCM16 range)
    val base = Array.tabulate(4000)(i =>
      (4000 * math.sin(i * 0.05) + 2500 * math.sin(i * 0.013)).toInt)
    def hash(s: Array[Int]): Long = graft.llm.Multimodal.audioHash64(s)
    // volume x2 doubles every magnitude AND the median — same hash
    assert(hash(base) == hash(base.map(_ * 2)),
      "volume scaling must not move the hash")
    // a constant DC offset lands only in the excluded f = 0 terms
    assert(hash(base) == hash(base.map(_ + 1000)),
      "DC offset must not move the hash")
    // reversed time structure lands far away
    val dRev = java.lang.Long.bitCount(hash(base) ^ hash(base.reverse))
    assert(dRev > 8, s"reversed structure must be far: $dRev bits")
    // pairs: two copies + the reversed signal + junk bytes
    val media = Seq(
      (1L, "audio", wav(base), null.asInstanceOf[String]),
      (2L, "audio", wav(base), null.asInstanceOf[String]),
      (3L, "audio", wav(base.reverse), null.asInstanceOf[String]),
      (4L, "audio", "not audio".getBytes("UTF-8"),
        null.asInstanceOf[String])
    ).toDF("media_id", "media_type", "payload", "meta")
    val pairs = graft.llm.Multimodal.audioHashPairs(media, maxHamming = 4)
      .select($"id_a", $"id_b", $"hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs.map(p => Set(p._1, p._2)) == Set(Set(1L, 2L)) &&
      pairs.forall(_._3 == 0), s"only the copy pair: $pairs")
    val h4 = graft.llm.Multimodal.audioHash(media)
      .filter($"media_id" === 4L).select($"ahash", $"decoded")
      .collect().head
    assert(h4.isNullAt(0) && !h4.getBoolean(1))
  }

  test("multimodal pHash: algorithmic invariances (brightness shift, " +
      "contrast scale), structure sensitivity, pairs via banded " +
      "Hamming, honest decode boundary") {
    def gradient(w: Int, h: Int, shift: Int = 0, scale: Double = 1.0)
        : java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        // mid-range diagonal gradient: scaled/shifted variants stay
        // inside [0,255], so the invariance claims face no clipping
        val v0 = 60 + ((x * 97 + y * 57) % 120)
        val v = math.min(255, math.max(0,
          (v0 * scale).toInt + shift))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    val base = gradient(48, 40)
    // uniform brightness shift: the DC coefficient absorbs it; all 63
    // AC coefficients (and so the hash) are IDENTICAL
    assert(Multimodal.phash64(base) ==
      Multimodal.phash64(gradient(48, 40, shift = 30)),
      "brightness shift must not move the hash")
    // positive contrast scale: coefficients and their median rescale
    // together — same hash
    assert(Multimodal.phash64(base) ==
      Multimodal.phash64(gradient(48, 40, scale = 1.5)),
      "contrast scale must not move the hash")
    // a structurally DIFFERENT image (transposed gradient direction)
    // lands far away; a re-encode of the same pixels lands at 0
    def png(i: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(i, "png", bos); bos.toByteArray
    }
    val other = {
      val img = new java.awt.image.BufferedImage(
        48, 40, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 40; x <- 0 until 48) {
        val v = 60 + ((x * 57 + y * 97) % 120)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    val dBase = java.lang.Long.bitCount(
      Multimodal.phash64(base) ^ Multimodal.phash64(other))
    assert(dBase > 10, s"different structure must be far: $dBase bits")
    // pairs: two copies + the distant image + a non-decodable payload;
    // the banded-Hamming engine must return exactly the copy pair
    val media = Seq(
      (1L, "image", png(base), null.asInstanceOf[String]),
      (2L, "image", png(base), null.asInstanceOf[String]),
      (3L, "image", png(other), null.asInstanceOf[String]),
      (4L, "image", "junk bytes".getBytes("UTF-8"),
        null.asInstanceOf[String])
    ).toDF("media_id", "media_type", "payload", "meta")
    val pairs = Multimodal.phashPairs(media, maxHamming = 5)
      .select($"id_a", $"id_b", $"hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs.map(p => Set(p._1, p._2)) == Set(Set(1L, 2L)) &&
      pairs.forall(_._3 == 0), s"only the copy pair: $pairs")
    // decode boundary: junk hashes to NULL with decoded = false
    val h4 = Multimodal.phash(media).filter($"media_id" === 4L)
      .select($"phash", $"decoded").collect().head
    assert(h4.isNullAt(0) && !h4.getBoolean(1))
    // narrow-chunk guard rides through from the shared engine (16
    // bands → 4-bit keys, rejected loudly)
    intercept[IllegalArgumentException](
      Multimodal.phashPairs(media, maxHamming = 16, bands = 16))
  }

  test("phash64: O(w)-scratch row accumulation is bit-identical to the " +
      "full-plane reference, including sub-32px overlap cells") {
    // the naive reference: materialize the whole luminance plane, then
    // box-sum per cell — the formulation phash64 replaced to bound
    // per-task scratch at one row
    def reference(img: java.awt.image.BufferedImage): Long = {
      val w = img.getWidth; val h = img.getHeight
      val lum = new Array[Long](w * h)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        lum(y * w + x) = 299L * ((rgb >> 16) & 0xff) +
          587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
      }
      val g = new Array[Double](32 * 32)
      for (ty <- 0 until 32; tx <- 0 until 32) {
        val y0 = ty * h / 32; val y1 = math.max(y0 + 1, (ty + 1) * h / 32)
        val x0 = tx * w / 32; val x1 = math.max(x0 + 1, (tx + 1) * w / 32)
        var s = 0L
        for (yy <- y0 until y1; xx <- x0 until x1) s += lum(yy * w + xx)
        g(ty * 32 + tx) = s.toDouble / ((y1 - y0).toLong * (x1 - x0))
      }
      graft.llm.Multimodal.phashFromGrid(g)
    }
    val rng = new java.util.Random(1234)
    // sizes exercise: divisible, non-divisible, w<32, h<32, both tiny,
    // single row/column
    val sizes = Seq((64, 64), (97, 53), (20, 80), (80, 20), (7, 5),
      (1, 40), (40, 1), (33, 31))
    sizes.foreach { case (w, h) =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, rng.nextInt(1 << 24))
      assert(Multimodal.phash64(img) == reference(img),
        s"hash diverged from the plane reference at ${w}x$h")
    }
  }

  test("multimodal: REAL ImageIO pixel decode — stats, resize, honest boundary") {
    // hand-built 4×2 PNG: top row solid red, bottom row solid blue →
    // every statistic is hand-computable
    val img = new java.awt.image.BufferedImage(
      4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 4).foreach { x =>
      img.setRGB(x, 0, 0xff0000); img.setRGB(x, 1, 0x0000ff)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val media = Seq(
      (1L, "image", png, null.asInstanceOf[String]),
      (2L, "image", "not an image at all".getBytes("UTF-8"),
        null.asInstanceOf[String]),
      (3L, "audio", png, null.asInstanceOf[String]) // wrong modality: skipped
    ).toDF("media_id", "media_type", "payload", "meta")
    val rows = Multimodal.pixelStats(media).orderBy($"media_id").collect()
    assert(rows.length == 2, "audio row filtered out")
    val r1 = rows(0)
    assert(r1.getInt(1) == 4 && r1.getInt(2) == 2 && r1.getBoolean(6))
    // mean luma: 4px red (299·255) + 4px blue (114·255) over 8 px
    val expLum = (4L * 299 * 255 + 4L * 114 * 255).toDouble / (1000.0 * 8)
    assert(math.abs(r1.getDouble(3) - expLum) < 1e-12, r1.toString)
    // red bucket 48 and blue bucket 3 tie at 4 px each → smallest wins
    assert(r1.getInt(4) == 3 && math.abs(r1.getDouble(5) - 0.5) < 1e-12)
    // non-decodable bytes: NULL stats, decoded = false — the honest seam
    val r2 = rows(1)
    assert(!r2.getBoolean(6) && r2.isNullAt(1) && r2.isNullAt(3))

    // resize is REAL for decodable images: the output is a PNG of the
    // target size whose corner pixels keep the band colors
    val rz = Multimodal.resize(
      Seq((1L, "image", png, null.asInstanceOf[String]))
        .toDF("media_id", "media_type", "payload", "meta"), 8, 4)
      .head.getAs[Array[Byte]]("payload")
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rz))
    assert(back.getWidth == 8 && back.getHeight == 4)
    assert((back.getRGB(0, 0) & 0xffffff) == 0xff0000, "top band stays red")
    assert((back.getRGB(0, 3) & 0xffffff) == 0x0000ff, "bottom band stays blue")

    // the pngFixture ↔ oracle arithmetic contract: decode recovers the
    // planted parameters for a few ids
    Seq(0L, 50L, 150L, 450L).foreach { id =>
      val f = Multimodal.pngFixture(id)
      val b = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f))
      assert(b.getWidth == (8 + id % 5) && b.getHeight == (6 + id % 7), s"id $id")
      val hA = b.getHeight / 3
      val expA = ((((id * 37) % 256) << 16) | (((id * 59) % 256) << 8) |
        ((id * 83) % 256)).toInt
      val expB = ((((id * 101 + 17) % 256) << 16) |
        (((id * 131 + 29) % 256) << 8) | ((id * 151 + 43) % 256)).toInt
      assert((b.getRGB(0, 0) & 0xffffff) == expA, s"band A id $id")
      assert((b.getRGB(0, hA) & 0xffffff) == expB, s"band B id $id")
    }
  }

  test("multimodal: real PNG/JPEG/GIF header decode, stub fallback elsewhere") {
    import Multimodal.ImageHeaders
    def pngBytes(w: Int, h: Int, colorType: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(33)
      bb.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      bb.putInt(13).put("IHDR".getBytes).putInt(w).putInt(h)
      bb.put(8.toByte).put(colorType.toByte) // bit depth, color type
      bb.put(0.toByte).put(0.toByte).put(0.toByte) // compression/filter/interlace
      bb.array()
    }
    def jpegBytes(w: Int, h: Int, channels: Int, sof: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(64)
      bb.put(0xff.toByte).put(0xd8.toByte)                 // SOI
      bb.put(0xff.toByte).put(0xe0.toByte).putShort(16)    // APP0, len 16
      bb.put("JFIF".getBytes).put(new Array[Byte](10))
      bb.put(0xff.toByte).put(0xff.toByte)                 // fill byte before marker
      bb.put(sof.toByte).putShort((8 + 3 * channels).toShort)
      bb.put(8.toByte).putShort(h.toShort).putShort(w.toShort)
      bb.put(channels.toByte)
      (0 until channels).foreach(c =>
        bb.put((c + 1).toByte).put(0x11.toByte).put(0.toByte))
      java.util.Arrays.copyOf(bb.array(), bb.position())
    }
    val gif = "GIF89a".getBytes ++ Array[Byte](0x40, 0x01, 0xc8.toByte, 0x00, 0, 0, 0, 0)

    assert(ImageHeaders.parse(pngBytes(1920, 1080, 6)).contains((1920, 1080, 4)))
    assert(ImageHeaders.parse(pngBytes(640, 480, 2)).contains((640, 480, 3)))
    assert(ImageHeaders.parse(pngBytes(16, 16, 0)).contains((16, 16, 1)))
    assert(ImageHeaders.parse(jpegBytes(640, 480, 3, 0xc0)).contains((640, 480, 3)))
    // progressive (SOF2) and grayscale
    assert(ImageHeaders.parse(jpegBytes(800, 600, 1, 0xc2)).contains((800, 600, 1)))
    assert(ImageHeaders.parse(gif).contains((320, 200, 3)))
    // not images → None (the stub-fallback trigger)
    assert(ImageHeaders.parse("plain text bytes".getBytes).isEmpty)
    assert(ImageHeaders.parse(Array[Byte](0xff.toByte, 0xd8.toByte)).isEmpty)
    assert(ImageHeaders.parse(pngBytes(1920, 1080, 6).take(20)).isEmpty)

    // through the Spark seam: real headers parse, text bytes fall back
    // to the stub's deterministic fake, non-WAV audio stays stubbed
    val media = Seq(
      (1L, "image", pngBytes(1920, 1080, 6)),
      (2L, "image", jpegBytes(640, 480, 3, 0xc0)),
      (3L, "image", "not really an image".getBytes),
      (4L, "audio", Array.fill(100)(7.toByte))
    ).toDF("media_id", "media_type", "payload")
    val f = Multimodal.extractFeatures(media).collect()
      .map(r => r.getLong(0) -> ((r.getInt(3), r.getInt(4), r.getInt(5)))).toMap
    assert(f(1L) == ((1920, 1080, 4)))
    assert(f(2L) == ((640, 480, 3)))
    val t = "not really an image".getBytes
    assert(f(3L) == ((64 + (t(0) & 0xff) * 8, 64 + (t(1) & 0xff) * 8, 3)))
    assert(f(4L) == ((100, 1, 1)))
  }

  test("multimodal: real WAV/RIFF header decode, stub fallback elsewhere") {
    import Multimodal.AudioHeaders
    import java.nio.{ByteBuffer, ByteOrder}
    def wavBytes(channels: Int, rate: Int, bitsPerSample: Int, frames: Int,
                 leadChunk: Option[Array[Byte]] = None): Array[Byte] = {
      val blockAlign = channels * bitsPerSample / 8
      val dataSize = frames * blockAlign
      val lead = leadChunk.map { body =>
        val pad = body.length & 1 // odd chunk bodies carry a pad byte
        val b = ByteBuffer.allocate(8 + body.length + pad)
          .order(ByteOrder.LITTLE_ENDIAN)
        b.put("JUNK".getBytes); b.putInt(body.length); b.put(body)
        b.array()
      }.getOrElse(Array.empty[Byte])
      val bb = ByteBuffer.allocate(12 + lead.length + 24 + 8 + dataSize)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(bb.capacity() - 8); bb.put("WAVE".getBytes)
      bb.put(lead)
      bb.put("fmt ".getBytes); bb.putInt(16)
      bb.putShort(1); bb.putShort(channels.toShort); bb.putInt(rate)
      bb.putInt(rate * blockAlign); bb.putShort(blockAlign.toShort)
      bb.putShort(bitsPerSample.toShort)
      bb.put("data".getBytes); bb.putInt(dataSize)
      bb.array()
    }

    // stereo 16-bit 44.1kHz, one second worth of frames
    assert(AudioHeaders.parseWav(wavBytes(2, 44100, 16, 44100))
      .contains((44100, 44100, 2)))
    // mono 8-bit; and a leading odd-sized chunk exercises word alignment
    assert(AudioHeaders.parseWav(wavBytes(1, 8000, 8, 1600))
      .contains((8000, 1600, 1)))
    assert(AudioHeaders.parseWav(
        wavBytes(1, 16000, 16, 320, leadChunk = Some(Array[Byte](1, 2, 3))))
      .contains((16000, 320, 1)))
    // not WAV / truncated → None (the stub-fallback trigger)
    assert(AudioHeaders.parseWav("plain text bytes here".getBytes).isEmpty)
    assert(AudioHeaders.parseWav(wavBytes(2, 44100, 16, 100).take(30)).isEmpty)
    assert(AudioHeaders.parseWav("RIFF1234WAVE".getBytes).isEmpty)

    // through the Spark seam: WAV parses, non-WAV audio keeps the stub
    val media = Seq(
      (1L, "audio", wavBytes(2, 48000, 16, 9600)),
      (2L, "audio", Array.fill(64)(3.toByte))
    ).toDF("media_id", "media_type", "payload")
    val f = Multimodal.extractFeatures(media).collect()
      .map(r => r.getLong(0) -> ((r.getInt(3), r.getInt(4), r.getInt(5)))).toMap
    assert(f(1L) == ((48000, 9600, 2)))
    assert(f(2L) == ((64, 1, 1)))
  }

  test("multimodal: real MP4/ISO-BMFF header decode, stub fallback elsewhere") {
    import Multimodal.VideoHeaders
    import java.nio.ByteBuffer
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(8 + payload.length) // big-endian default
      bb.putInt(8 + payload.length); bb.put(typ.getBytes); bb.put(payload)
      bb.array()
    }
    def ftyp = box("ftyp", "isom".getBytes ++ Array.fill(4)(0.toByte) ++
      "isomavc1".getBytes)
    def mvhdV0(timescale: Int, duration: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(100)
      bb.putInt(0)                 // version 0 + flags
      bb.putInt(0); bb.putInt(0)   // ctime, mtime
      bb.putInt(timescale); bb.putInt(duration)
      box("mvhd", bb.array())
    }
    def mvhdV1(timescale: Int, duration: Long): Array[Byte] = {
      val bb = ByteBuffer.allocate(112)
      bb.putInt(0x01000000)        // version 1
      bb.putLong(0); bb.putLong(0) // 64-bit ctime, mtime
      bb.putInt(timescale); bb.putLong(duration)
      box("mvhd", bb.array())
    }
    def tkhd(w: Int, h: Int, v1: Boolean = false): Array[Byte] = {
      val off = if (v1) 88 else 76
      val bb = ByteBuffer.allocate(off + 8)
      bb.putInt(if (v1) 0x01000000 else 0)
      bb.position(off)
      bb.putInt(w << 16); bb.putInt(h << 16) // 16.16 fixed point
      box("tkhd", bb.array())
    }
    def mp4(boxes: Array[Byte]*): Array[Byte] = boxes.flatten.toArray

    // v0 movie header + one sized (video) track after an audio (0×0) one
    val good = mp4(ftyp,
      box("moov", mvhdV0(1000, 5000) ++ box("trak", tkhd(0, 0)) ++
        box("trak", tkhd(640, 360))))
    assert(VideoHeaders.parseMp4(good).contains((640, 360, 5)))
    // v1 header (64-bit duration) and v1 track header
    val v1 = mp4(ftyp,
      box("moov", mvhdV1(90000, 90000L * 3661) ++
        box("trak", tkhd(1920, 1080, v1 = true))))
    assert(VideoHeaders.parseMp4(v1).contains((1920, 1080, 3661)))
    // audio-only mp4 (no sized track), garbage, truncation → None
    assert(VideoHeaders.parseMp4(mp4(ftyp,
      box("moov", mvhdV0(1000, 2000) ++ box("trak", tkhd(0, 0))))).isEmpty)
    assert(VideoHeaders.parseMp4("plain text, no boxes".getBytes).isEmpty)
    assert(VideoHeaders.parseMp4(good.take(40)).isEmpty)

    // through the Spark seam: MP4 parses; non-MP4 video keeps the stub
    val media = Seq(
      (1L, "video", good),
      (2L, "video", Array.fill(64)(7.toByte))
    ).toDF("media_id", "media_type", "payload")
    val f = Multimodal.extractFeatures(media).collect()
      .map(r => r.getLong(0) -> ((r.getInt(3), r.getInt(4), r.getInt(5)))).toMap
    assert(f(1L) == ((640, 360, 5)))
    val stub = Multimodal.StubDecoder.decode("video", Array.fill(64)(7.toByte))
    assert(f(2L) == stub)
  }

  test("multimodal: REAL MP4 sample-table frame extraction") {
    import Multimodal.{Mp4Samples, mp4Fixture}
    // single-chunk fixture (odd id): n = 3 + 1%4 = 4 samples, sizes and
    // fills from the planting arithmetic, frames carved contiguously
    val odd = mp4Fixture(1L)
    val oddSamples = Mp4Samples.parse(odd).get
    assert(oddSamples.length == 4)
    assert(oddSamples.map(_._2) ==
      Vector.tabulate(4)(j => 16 + ((1 + j) % 8)))
    oddSamples.zipWithIndex.foreach { case ((off, len), j) =>
      val fill = ((7 + j * 13) % 256).toByte
      assert(odd.slice(off.toInt, off.toInt + len).forall(_ == fill),
        s"sample $j bytes must be the planted fill")
    }
    // contiguous single chunk: each sample starts where the last ended
    assert(oddSamples.sliding(2).forall {
      case Vector((o1, l1), (o2, _)) => o2 == o1 + l1
      case _ => true
    })

    // two-chunk fixture (even id): the sentinel gap separates chunks,
    // so sample 2 does NOT start where sample 1 ends — and no frame
    // ever contains a 0xAA sentinel byte
    val even = mp4Fixture(2L) // n = 5, chunks of 2 + 3
    val evenSamples = Mp4Samples.parse(even).get
    assert(evenSamples.length == 5)
    assert(evenSamples(2)._1 == evenSamples(1)._1 + evenSamples(1)._2 + 4,
      "chunk 2 starts after the 4-byte sentinel gap")
    evenSamples.zipWithIndex.foreach { case ((off, len), j) =>
      val fill = ((14 + j * 13) % 256).toByte
      assert(even.slice(off.toInt, off.toInt + len).forall(_ == fill))
    }

    // uniform-size stsz branch
    val uni = Mp4Samples.parse(mp4Fixture(3L, uniform = true)).get
    assert(uni.length == 6 && uni.forall(_._2 == 16 + 3))

    // malformed inputs → None (truncated mdat, garbage, audio handler)
    assert(Mp4Samples.parse(odd.dropRight(10)).isEmpty,
      "sample past payload end must reject")
    // lenient mode keeps truncated-tail samples (frameStats turns them
    // into decoded=false rows); structural garbage still rejects
    val lenientSamples = Mp4Samples.parse(odd.dropRight(10), lenient = true)
    assert(lenientSamples.get.length == 4,
      "lenient parse keeps all table-declared samples")
    assert(lenientSamples.get.last._1 + lenientSamples.get.last._2 >
      odd.length - 10, "the truncated sample extends past the payload")
    assert(Mp4Samples.parse("not an mp4 at all, just text".getBytes,
      lenient = true).isEmpty, "lenient does not resurrect garbage")
    assert(Mp4Samples.parse("not an mp4 at all, just text".getBytes).isEmpty)
    val audio = {
      val b = mp4Fixture(1L).clone()
      // flip the hdlr handler 4cc from 'vide' to 'soun'
      val idx = b.indexOfSlice("vide".getBytes)
      Array.copy("soun".getBytes, 0, b, idx, 4)
      b
    }
    assert(Mp4Samples.parse(audio).isEmpty, "non-video track must reject")

    // through the Spark seam: real MP4s yield real sample bytes at the
    // stride; non-MP4 payloads keep the legacy stub slices
    val media = Seq(
      (1L, "video", odd),
      (2L, "video", Array.fill(64)(7.toByte))
    ).toDF("media_id", "media_type", "payload")
    val frames = Multimodal.frameSample(media, frameBytes = 16, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2))).toSeq
    val real = frames.filter(_._1 == 1L)
    assert(real.map(_._2) == Seq(0, 2), "stride over sample indexes")
    real.foreach { case (_, j, bytes) =>
      assert(bytes.length == 16 + ((1 + j) % 8))
      assert(bytes.forall(_ == ((7 + j * 13) % 256).toByte))
    }
    val stub = frames.filter(_._1 == 2L)
    assert(stub.map(_._2) == Seq(0, 2) &&
      stub.forall(_._3.sameElements(Array.fill(16)(7.toByte))))
  }

  test("multimodal: REAL MJPEG frame pixel stats — decode, tolerance, " +
      "honest failure modes") {
    import Multimodal.{mjpegFixture, mp4WithSamples}
    // PNG samples (lossless): exact planted arithmetic per frame
    val id = 2L // even → two-chunk layout; n = 2 + 2%3 = 4 frames
    val media = Seq((id, "video", mjpegFixture(id)))
      .toDF("media_id", "media_type", "payload")
    val rows = Multimodal.frameStats(media).orderBy($"frame_idx")
      .collect()
    val n = (2 + id % 3).toInt
    assert(rows.length == n)
    rows.zipWithIndex.foreach { case (r, j) =>
      val rr = ((id * 37 + j * 53) % 256).toInt
      val gg = ((id * 59 + j * 71) % 256).toInt
      val bb = ((id * 83 + j * 97) % 256).toInt
      assert(r.getInt(1) == j && r.getBoolean(7))
      assert(r.getInt(2) == (4 + id % 3).toInt &&
        r.getInt(3) == (3 + id % 2).toInt)
      assert(r.getDouble(4) == (299 * rr + 587 * gg + 114 * bb) / 1000.0)
      assert(r.getInt(5) == ((rr >> 6) << 4 | (gg >> 6) << 2 | (bb >> 6)))
      assert(r.getDouble(6) == 1.0)
    }
    // TRUE MJPEG (JPEG samples): decodes for real; solid colors may
    // shift a count or two under DC quantization → tolerance check
    val jm = Seq((3L, "video", mjpegFixture(3L, format = "jpg")))
      .toDF("media_id", "media_type", "payload")
    val jr = Multimodal.frameStats(jm).orderBy($"frame_idx").collect()
    assert(jr.length == (2 + 3 % 3) && jr.forall(_.getBoolean(7)),
      "JPEG samples must decode (MJPEG is the self-contained case)")
    jr.zipWithIndex.foreach { case (r, j) =>
      val rr = ((3 * 37 + j * 53) % 256).toInt
      val gg = ((3 * 59 + j * 71) % 256).toInt
      val bb = ((3 * 83 + j * 97) % 256).toInt
      val exp = (299 * rr + 587 * gg + 114 * bb) / 1000.0
      assert(math.abs(r.getDouble(4) - exp) < 4.0,
        s"JPEG luminance off: got ${r.getDouble(4)}, planted $exp")
    }
    // failure modes: truncated sample bytes and non-image codec bytes
    // → NULL stats + decoded=false, one row per sample either way
    val wholePng = {
      val bos = new java.io.ByteArrayOutputStream()
      val img = new java.awt.image.BufferedImage(4, 3,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val truncated = mp4WithSamples(Seq(
      java.util.Arrays.copyOf(wholePng, 10), // PNG signature w/o data
      Array.fill(20)(0x55.toByte)))          // constant bytes: codec stand-in
    val bad = Seq((9L, "video", truncated))
      .toDF("media_id", "media_type", "payload")
    val br = Multimodal.frameStats(bad).orderBy($"frame_idx").collect()
    assert(br.length == 2)
    br.foreach { r =>
      assert(!r.getBoolean(7) && r.isNullAt(2) && r.isNullAt(3) &&
        r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6))
    }
    // a payload that isn't a parseable MP4 yields no frame rows
    val notMp4 = Seq((7L, "video", "plain bytes".getBytes))
      .toDF("media_id", "media_type", "payload")
    assert(Multimodal.frameStats(notMp4).count() == 0)
    // a TRUNCATED CONTAINER (intact sample tables, mdat cut short)
    // yields decoded=false rows for the out-of-bounds frames instead
    // of silently vanishing — the lenient-parse contract
    val whole = Multimodal.mjpegFixture(2L)
    val cut = Seq((11L, "video", whole.dropRight(10)))
      .toDF("media_id", "media_type", "payload")
    val cr = Multimodal.frameStats(cut).orderBy($"frame_idx").collect()
    assert(cr.length == (2 + 2 % 3).toInt,
      "truncated container keeps one row per table-declared frame")
    assert(cr.exists(!_.getBoolean(7)),
      "the cut-off tail frame must surface as decoded=false")
    assert(cr.exists(_.getBoolean(7)),
      "frames before the cut still decode")
  }

  test("multimodal: REAL audio PCM sample stats — planted arithmetic, " +
      "honest failure modes") {
    import Multimodal.wavPcm16Fixture
    val id = 3L // channels 2, rate 8300, frames 43 → n = 86
    val media = Seq((id, "audio", wavPcm16Fixture(id)))
      .toDF("media_id", "media_type", "payload")
    val r = Multimodal.audioStats(media).head()
    val n = (40 + id % 16).toInt * (1 + id % 2).toInt
    // replay the fixture arithmetic
    val samples = (0 until n).map { k =>
      if (k % 7 == 0) 0
      else if (k % 11 == 3) 32767
      else if (k % 13 == 5) -32768
      else ((id * 31 + k * 997) % 60000 - 30000).toInt
    }
    assert(r.getInt(1) == 8300 && r.getInt(2) == 2 && r.getLong(3) == n)
    assert(r.getInt(4) == samples.map(math.abs).max)
    val ssq = samples.map(s => s.toLong * s).sum
    assert(r.getDouble(5) == math.sqrt(ssq.toDouble / n))
    assert(r.getDouble(6) ==
      samples.count(s => math.abs(s) >= 32767).toDouble / n)
    assert(r.getDouble(7) ==
      samples.count(s => math.abs(s) <= 327).toDouble / n)
    assert(r.getBoolean(8))
    // failure modes: float format, truncated data chunk, garbage bytes,
    // odd-length data — each one row, NULL stats, decoded=false
    val whole = wavPcm16Fixture(4L)
    val bad = Seq(
      (10L, "audio", wavPcm16Fixture(4L, format = 3)),
      (11L, "audio", java.util.Arrays.copyOf(whole, whole.length - 10)),
      (12L, "audio", "not audio at all, just text bytes".getBytes),
      (13L, "audio", { // declared data length made odd
        val b = wavPcm16Fixture(5L)
        val dl = java.nio.ByteBuffer.wrap(b, 40, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        dl.putInt(dl.getInt(40) - 1); b
      })
    ).toDF("media_id", "media_type", "payload")
    val br = Multimodal.audioStats(bad).collect()
    assert(br.length == 4)
    br.foreach { row =>
      assert(!row.getBoolean(8) && (1 to 7).forall(row.isNullAt),
        s"expected NULL+decoded=false row: $row")
    }
    // non-audio media types produce no rows
    val img = Seq((20L, "image", whole))
      .toDF("media_id", "media_type", "payload")
    assert(Multimodal.audioStats(img).count() == 0)

    // IEEE float32 (format 3): decodes for real, folded into the same
    // 16-bit domain via s = clamp(rint(f*32768)) — planted samples are
    // exact multiples of 2^-10 so the fold is exactly v*32
    val fid = 3L // channels 2, rate 16300, frames 43 → n = 86
    val fm = Seq((fid, "audio", Multimodal.wavFloat32Fixture(fid)))
      .toDF("media_id", "media_type", "payload")
    val fr = Multimodal.audioStats(fm).head()
    val fsamples = (0 until n).map { k =>
      if (k % 7 == 0) 0
      else if (k % 11 == 3) 32767
      else if (k % 13 == 5) -32768
      else (((fid * 31 + k * 997) % 2000 - 1000) * 32).toInt
    }
    assert(fr.getInt(1) == 16300 && fr.getInt(2) == 2 && fr.getLong(3) == n)
    assert(fr.getInt(4) == fsamples.map(math.abs).max)
    val fssq = fsamples.map(s => s.toLong * s).sum
    assert(fr.getDouble(5) == math.sqrt(fssq.toDouble / n))
    assert(fr.getDouble(6) ==
      fsamples.count(s => math.abs(s) >= 32767).toDouble / n)
    assert(fr.getDouble(7) ==
      fsamples.count(s => math.abs(s) <= 327).toDouble / n)
    assert(fr.getBoolean(8))
    // float failure modes: truncated float chunk; a planted NaN sample
    // (corrupt data is loud, not folded into the stats)
    val fwhole = Multimodal.wavFloat32Fixture(4L)
    val fbad = Seq(
      (30L, "audio", java.util.Arrays.copyOf(fwhole, fwhole.length - 6)),
      (31L, "audio", Multimodal.wavFloat32Fixture(4L, nanAt = 8)))
      .toDF("media_id", "media_type", "payload")
    Multimodal.audioStats(fbad).collect().foreach { row =>
      assert(!row.getBoolean(8) && (1 to 7).forall(row.isNullAt),
        s"expected NULL+decoded=false row: $row")
    }
  }

  test("multimodal: stub decode features are deterministic and typed") {
    val media = Multimodal.mediaFromDocuments(
      spark, "/root/testdata/sf0.001/documents.parquet")
    val feats = Multimodal.extractFeatures(media)
    assert(feats.schema == Multimodal.featureSchema)
    val img = feats.filter($"media_type" === "image").head()
    assert(img.getAs[Int]("channels") == 3)
    assert(img.getAs[Int]("width") >= 64)
    val audio = feats.filter($"media_type" === "audio").head()
    assert(audio.getAs[Int]("width").toLong == audio.getAs[Long]("byte_len"))
    // deterministic across runs
    val h1 = feats.select($"content_hash").orderBy($"content_hash").collect().toSeq
    val h2 = Multimodal.extractFeatures(media)
      .select($"content_hash").orderBy($"content_hash").collect().toSeq
    assert(h1 == h2)
  }
}
