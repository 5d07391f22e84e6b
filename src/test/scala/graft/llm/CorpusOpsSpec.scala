package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sampling / packing / PII-redaction / contamination semantics. */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = sf("documents")

  // --- Sampling ---------------------------------------------------------

  test("quotaPerGroup: hard cap per group, deterministic, hash-ordered picks") {
    val q = Sampling.quotaPerGroup(docs, Seq("source"), "doc_id", 25)
    val counts = q.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    full.foreach { case (src, n) =>
      assert(counts.getOrElse(src, 0L) == math.min(n, 25L),
        s"$src: ${counts.get(src)} vs full $n") }
    // deterministic across runs
    val again = Sampling.quotaPerGroup(docs, Seq("source"), "doc_id", 25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(q.select("doc_id").collect().map(_.getLong(0)).toSet == again)
    // picks are exactly the n smallest portable hashes per group
    val P = 1000000007L; val K = 2654435761L
    val want = docs.select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).iterator.flatMap { case (_, rows) =>
        rows.map(_._2).sortBy(id => (((id % P) * K) % P, id)).take(25)
      }.toSet
    assert(again == want)
    intercept[IllegalArgumentException](
      Sampling.quotaPerGroup(docs, Nil, "doc_id", 5))
  }

  test("sampling: deterministic, stratified, complement partitions exactly") {
    val s1 = Sampling.stratified(docs, "lang", "doc_id",
      Map("en" -> 0.5), defaultFraction = 0.1).select("doc_id")
    val s2 = Sampling.stratified(docs, "lang", "doc_id",
      Map("en" -> 0.5), defaultFraction = 0.1).select("doc_id")
    // same decisions every run (df.sample could not promise this)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)

    // per-stratum rate lands near its fraction (xxhash64 uniformity)
    val en = docs.filter($"lang" === "en")
    val enKept = Sampling.stratified(en, "lang", "doc_id", Map("en" -> 0.5)).count()
    val rate = enKept.toDouble / en.count()
    assert(rate > 0.3 && rate < 0.7, s"en keep rate $rate not ~0.5")

    // sample + complement = exact partition of the table
    val keep = Sampling.byHash(docs, "doc_id", 0.3)
    val rest = Sampling.byHashComplement(docs, "doc_id", 0.3)
    assert(keep.count() + rest.count() == docs.count())
    assert(keep.join(rest, "doc_id").count() == 0)
  }

  test("sampling: portable bucket matches its documented arithmetic") {
    val got = docs.select($"doc_id",
      Sampling.portableBucket($"doc_id").as("b")).collect()
    got.foreach { r =>
      val id = r.getLong(0)
      val expect = ((id % 1000000007L) * 2654435761L) % 1000000007L % 1000000L
      assert(r.getLong(1) == expect, s"id=$id")
    }
  }

  // --- Packing ----------------------------------------------------------

  test("packing: offsets are a contiguous token stream per (group, stream)") {
    val d = docs.withColumn("toks",
      TextAnalysis.tokenCountEstimate($"text").cast("long"))
    val packed = Packing.packSequences(d, "doc_id", "toks", budget = 512,
      groupCols = Seq("source"), subStreams = 4)

    // every row's global start offset == sum of tokens of earlier docs
    // in its (source, stream); pack_id/pack_offset decompose that offset
    val rows = packed
      .select($"source", $"stream", $"doc_id", $"toks", $"pack_id", $"pack_offset")
      .collect()
    rows.groupBy(r => (r.getString(0), r.getLong(1))).foreach { case (_, rs) =>
      var cum = 0L
      rs.sortBy(_.getLong(2)).foreach { r =>
        assert(r.getLong(4) == cum / 512, s"pack_id at doc ${r.getLong(2)}")
        assert(r.getLong(5) == cum % 512, s"pack_offset at doc ${r.getLong(2)}")
        cum += r.getLong(3)
      }
    }
    // offsets never reach the budget
    assert(packed.filter($"pack_offset" >= 512 || $"pack_offset" < 0).count() == 0)
  }

  test("packing: spans_boundary marks exactly the docs the cut splits") {
    val d = Seq((1L, 100L), (2L, 500L), (3L, 500L), (4L, 24L), (5L, 2000L))
      .toDF("id", "toks")
    val p = Packing.packSequences(d, "id", "toks", budget = 1024)
      .orderBy("id").collect()
    // stream of starts: 0,100,600,1100,1124 — doc2 (100..599) fits,
    // doc3 (600..1099) crosses 1024, doc5 (1124..3123) crosses 2048+3072
    assert(p.map(_.getAs[Long]("pack_id")).toSeq == Seq(0L, 0L, 0L, 1L, 1L))
    assert(p.map(_.getAs[Boolean]("spans_boundary")).toSeq ==
      Seq(false, false, true, false, true))
    assert(p.map(_.getAs[Long]("pack_offset")).toSeq ==
      Seq(0L, 100L, 600L, 76L, 100L))
    // summary: doc counts per pack
    val sum = Packing.packSummary(
        Packing.packSequences(d, "id", "toks", budget = 1024), "toks")
      .orderBy("pack_id").collect()
    assert(sum.map(r => (r.getAs[Long]("pack_id"), r.getAs[Long]("n_docs"),
      r.getAs[Long]("tokens_started"))).toSeq ==
      Seq((0L, 3L, 1100L), (1L, 2L, 2024L)))
  }

  // --- PII redaction ----------------------------------------------------

  test("pii: email/card/phone/ip replaced in order, counts per category, " +
      "Luhn rejects digit-run false positives") {
    val d = Seq(
      (1L, "mail me at jo.doe+x@corp.example.com or admin@ex.org thanks"),
      (2L, "call +44 20-7946-0958 or +1 555-867-5309 now"),
      (3L, "host 10.0.0.1 and 192.168.255.255 respond"),
      (4L, "clean prose with numbers 12345 and dots. nothing else"),
      (5L, "all: a@b.io, +1 22-33-44, 8.8.8.8"),
      // 4111111111111111 (Visa test) and 5500005555555559 are
      // Luhn-valid; 4111111111111112 fails the checksum and an order
      // id of 20+ digits never even becomes a candidate
      (6L, "pay 4111111111111111 or 5500005555555559 please"),
      (7L, "order 4111111111111112 ref 12345678901234567890123 kept"),
      (8L, "twice 4111111111111111 and 4111111111111111 again")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(d, "text").orderBy("doc_id").collect()
    def r(i: Int) = (out(i).getAs[Int]("n_emails"), out(i).getAs[Int]("n_ccs"),
      out(i).getAs[Int]("n_phones"), out(i).getAs[Int]("n_ips"),
      out(i).getAs[String]("redacted"))
    assert(r(0) == (2, 0, 0, 0, "mail me at <EMAIL> or <EMAIL> thanks"))
    assert(r(1) == (0, 0, 2, 0, "call <PHONE> or <PHONE> now"))
    assert(r(2) == (0, 0, 0, 2, "host <IP> and <IP> respond"))
    // the no-match path leaves text byte-identical
    assert(r(3) == (0, 0, 0, 0,
      "clean prose with numbers 12345 and dots. nothing else"))
    assert(r(4) == (1, 0, 1, 1, "all: <EMAIL>, <PHONE>, <IP>"))
    assert(r(5) == (0, 2, 0, 0, "pay <CC> or <CC> please"))
    assert(r(6) == (0, 0, 0, 0,
      "order 4111111111111112 ref 12345678901234567890123 kept"))
    assert(r(7) == (0, 2, 0, 0, "twice <CC> and <CC> again"))
  }

  // --- Mojibake repair --------------------------------------------------

  test("fixMojibake: round-trip repair, residue quote, nbsp normalize, clean passthrough") {
    def mangle(s: String) = new String(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.Charset.forName("windows-1252"))
    val clean = "café “quoted” – naïve… 25°"
    val d = Seq(
      (1L, mangle(clean)),
      (2L, "plain ascii stays byte-identical"),
      (3L, "stub" + mangle("\u201D") + " right quote"), // incl. the 0x9D byte
      (4L, mangle("a b"))                        // misdecoded nbsp
    ).toDF("doc_id", "text")
    val out = TextAnalysis.fixMojibake(d, "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == clean, s"round-trip repair failed: '${out(1L)}'")
    assert(out(2L) == "plain ascii stays byte-identical")
    assert(out(3L) == "stub\u201D right quote")
    assert(out(4L) == "a b", "misdecoded nbsp must normalize to a space")
    // a legitimate â+€ adjacency must NOT be rewritten (the rejected
    // bare-residue rule would have corrupted exactly this, including
    // the output of the chain's own \u00C3\u00A2 repair)
    assert(TextAnalysis.fixMojibake(
        Seq((9L, "price b\u00E2\u20AC here")).toDF("doc_id", "text"), "text")
      .head.getString(1) == "price b\u00E2\u20AC here")
    // the table's documented shape: bads are unique, longest-first, and
    // every bad really is the cp1252 view of its good's UTF-8 bytes
    // (except the nbsp-normalizing entry)
    val fixes = TextAnalysis.MojibakeFixes
    assert(fixes.map(_._1).distinct.size == fixes.size)
    assert(fixes.map(_._1.length).sliding(2).forall(w => w.head >= w.last))
    fixes.filter(_._2 != " ").foreach { case (bad, good) =>
      assert(bad == mangle(good), s"derivation broken for '$good'")
    }
  }

  // --- HTML strip -------------------------------------------------------

  test("stripHtml: scripts/styles vanish with contents, entities decode once, prose untouched") {
    val d = Seq(
      (1L, "<p>hello <b>world</b></p>"),
      (2L, "<script>if (a < b) { alert('x'); }</script>after"),
      (3L, "<style>p{color:red}</style>styled"),
      (4L, "Tom &amp; Jerry &lt;3 &quot;q&quot; &#39;a&#39; &nbsp;end"),
      (5L, "&amp;lt; must NOT double-decode"),
      (6L, "plain prose stays byte-identical here"),
      (7L, "multi\n\nline   and\ttabs"),
      (8L, "<SCRIPT SRC=\"x\">ignore</SCRIPT>case-insensitive")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.stripHtml(d, "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "hello world")
    assert(out(2L) == "after", "script CONTENT (with a bare <) must vanish")
    assert(out(3L) == "styled")
    assert(out(4L) == "Tom & Jerry <3 \"q\" 'a' end")
    assert(out(5L) == "&lt; must NOT double-decode")
    assert(out(6L) == "plain prose stays byte-identical here")
    assert(out(7L) == "multi line and tabs")
    assert(out(8L) == "case-insensitive")
  }

  test("c4Filter: line keeps and page drops match the paper's rules") {
    val keep2 = "second proper sentence line for the page!"
    val keep3 = "a third proper sentence line rounds it out?"
    val corpus = Seq(
      (1L, "this first line has enough words here.\nshort line.\n" +
        "no terminal punctuation on this line at all\n" +
        "this line mentions javascript somewhere inside.\n" +
        s"$keep2\n$keep3"),
      (2L, s"a page mentioning code blocks {{ drops entirely.\n$keep2\n$keep3"),
      (3L, s"a page with filler Lorem Ipsum text drops.\n$keep2\n$keep3"),
      (4L, s"only two proper sentence lines survive here.\n$keep2"),
      (5L, s"a page with a banned word dynamite inside.\n$keep2\n$keep3"),
      (9L, "he said the words were “fully quoted here.” \n" +
        s"$keep2\n$keep3") // closing quote + trailing space still keeps
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4Filter(corpus, "text")
      .as[(Long, String)].collect().toMap
    assert(out.keySet == Set(1L, 5L, 9L), s"kept ${out.keySet}")
    assert(out(1L) == "this first line has enough words here.\n" +
      s"$keep2\n$keep3",
      s"short / unterminated / javascript lines must drop: ${out(1L)}")
    assert(out(9L).startsWith("he said the words were"),
      "closing-quote-terminated line must be kept")
    // badWords: word-boundary, case-insensitive, on the ORIGINAL text
    val out2 = TextAnalysis.c4Filter(corpus, "text",
        badWords = Seq("Dynamite"))
      .select("doc_id").as[Long].collect().toSet
    assert(out2 == Set(1L, 9L), s"banned word must drop the page: $out2")
    // loud config guard; the fused keep/rebuild expressions use no
    // temp columns, so a user column that collides with the OLD
    // implementation's scratch name passes through untouched
    intercept[IllegalArgumentException](
      TextAnalysis.c4Filter(corpus, "text", minSentences = 0))
    assert(TextAnalysis.c4Filter(
      corpus.withColumn("__c4bad", lit(true)), "text")
      .columns.contains("__c4bad"))
    // curation stage: pipeline + observed agree (the stage drops pages
    // and rewrites text before lang-id/repetition see them)
    val cfg = Curation.PipelineConfig(c4Rules = true,
      maxDupWordFrac = 1.0, maxDupNgramFrac = 1.0, maxTopNgramFrac = 1.0)
    val piped = Curation.pipeline(corpus, "doc_id", "text", cfg)
      .as[(Long, String)].collect().toMap
    assert(piped.keySet == Set(1L, 5L, 9L) && piped(1L) == out(1L),
      s"pipeline stage must match the operator: ${piped.keySet}")
    val (odf, counts) = Curation.pipelineObserved(corpus, "doc_id", "text", cfg)
    assert(odf.select("doc_id").as[Long].collect().toSet == Set(1L, 5L, 9L))
    assert(counts()("after_repetition") == 3L,
      "C4 drops fold into the filter-stage count")
  }

  test("lineStats/filterDuplicateUnits: duplicate lines and paragraphs " +
      "by count and by char mass (Gopher's structural repetition half)") {
    val corpus = Seq(
      (1L, "alpha line one\nbeta line two\n\ngamma paragraph"),
      (2L, "alpha line one\nbeta\nalpha line one\nalpha line one\n\n" +
        "gamma paragraph"),
      (3L, "para one body\n\npara two body here\n\npara two body here"),
      (4L, null.asInstanceOf[String]),
      (5L, "")
    ).toDF("doc_id", "text")
    val s = Repetition.lineStats(corpus, "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(s(1L).getAs[Double]("dup_line_frac") == 0.0 &&
      s(1L).getAs[Double]("dup_para_frac") == 0.0)
    // doc 2: lines [14c, 4c, 14c, 14c, 15c] → 2/5 by count, 28/61 chars
    assert(s(2L).getAs[Long]("n_lines") == 5L)
    assert(s(2L).getAs[Double]("dup_line_frac") == 0.4)
    assert(s(2L).getAs[Double]("dup_line_char_frac") == 0.459016)
    assert(s(2L).getAs[Double]("dup_para_frac") == 0.0,
      "the dup lines sit inside ONE paragraph")
    // doc 3: paras [13c, 18c, 18c] → 1/3 by count, 18/49 chars
    assert(s(3L).getAs[Long]("n_paras") == 3L)
    assert(s(3L).getAs[Double]("dup_para_frac") == 0.333333)
    assert(s(3L).getAs[Double]("dup_para_char_frac") == 0.367347)
    // null/empty text: zero units, zero fractions, never a crash
    for (i <- Seq(4L, 5L))
      assert(s(i).getAs[Long]("n_lines") == 0L &&
        s(i).getAs[Double]("dup_para_char_frac") == 0.0)
    // the filter at Gopher thresholds drops exactly the two repeaters
    val kept = Repetition.filterDuplicateUnits(corpus, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L), s"kept $kept")
    // thresholds >= 1.0 skip the stats projection exactly
    assert(Repetition.filterDuplicateUnits(corpus, "text", 1.0, 1.0, 1.0, 1.0)
      .count() == 5)
    intercept[IllegalArgumentException](Repetition.lineStats(
      corpus.withColumn("n_lines", lit(1L)), "text"))
  }

  test("gopherSignals/gopherFilter: each published rule measured and " +
      "enforced (Rae 2021 A1.1)") {
    // 55 words incl. >= 2 stop words, 3 lines, all alphabetic
    val base = "the quick brown fox and seven friends have been with us "
    val good = (base * 4).trim + "\nsecond line of plain words here\n" +
      "third line closes the page"
    // doc 4: >90% bullet lines (Gopher's structural rule removes pages
    // where MORE than 90% of lines start with a bullet — 30 of 33 =
    // 0.909; the lines stay alphabetic and distinct so ONLY the bullet
    // rule trips)
    val bullets = (1 to 30).map(i => s"-item$i extra words here")
      .mkString("\n", "\n", "")
    val corpus = Seq(
      (1L, good),
      (2L, "too few words to pass the floor"),
      (3L, good + " ### " + ("# " * 10).trim),            // hash ratio
      (4L, good + bullets),                               // bullet lines
      (5L, good + "...\nalso ends with dots...\nand another one…"), // ellipses
      (6L, good + " " + (1 to 40).map(i => 1000 + i).mkString(" ")), // alpha
      (7L, ("zzz qqq kkk vvv " * 15).trim + "\nmore zzz qqq kkk vvv"),
      (8L, good + " " + ("... " * 9) + "closing words here") // ellipsis ratio
                          // (mid-line dots: the line-ending rule stays off)
    ).toDF("doc_id", "text")
    val sig = TextAnalysis.gopherSignals(corpus, "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val g = sig(1L)
    assert(g.getAs[Long]("g_words") == 55, // 44 + 6 + 5
      s"word count: ${g.getAs[Long]("g_words")}")
    assert(g.getAs[Long]("g_stopword_hits") >= 4) // the, and, have, with, of
    assert(g.getAs[Double]("g_alpha_word_frac") == 1.0)
    assert(g.getAs[Double]("g_bullet_line_frac") == 0.0)
    // the hash and ellipsis ratios gate SEPARATELY (the paper's 0.1 cap
    // applies to each symbol family, not their sum): doc 3 trips hash
    // only, doc 8 trips ellipsis only (9 "..." / 67 words = 0.134)
    assert(sig(3L).getAs[Double]("g_hash_ratio") > 0.1 &&
      sig(3L).getAs[Double]("g_ellipsis_ratio") == 0.0)
    assert(sig(8L).getAs[Double]("g_hash_ratio") == 0.0 &&
      sig(8L).getAs[Double]("g_ellipsis_ratio") > 0.1)
    assert(sig(4L).getAs[Double]("g_bullet_line_frac") > 0.9)
    // doc 7 has zero stop words — the signal sees none
    assert(sig(7L).getAs[Long]("g_stopword_hits") == 0)
    val kept = TextAnalysis.gopherFilter(corpus, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L), s"only the clean page passes: $kept")
    // signal columns are dropped from the filter output
    assert(TextAnalysis.gopherFilter(corpus, "text").columns.toSeq ==
      Seq("doc_id", "text"))
    // thresholds are knobs: lifting the stopword rule admits doc 7
    // (57 words of gibberish, mean len 3.25, all alphabetic)
    val loose = TextAnalysis.gopherFilter(corpus, "text", minStopwords = 0)
      .select("doc_id").as[Long].collect().toSet
    assert(loose.contains(7L), s"knob must lift the rule: $loose")
    intercept[IllegalArgumentException](
      TextAnalysis.gopherFilter(corpus, "text", minWords = 0))
    intercept[IllegalArgumentException](TextAnalysis.gopherSignals(
      corpus.withColumn("g_words", lit(1L)), "text"))
    // curation stage at the paper's defaults
    val piped = Curation.pipeline(corpus, "doc_id", "text",
        Curation.PipelineConfig(gopherRules = true, maxDupWordFrac = 1.0,
          maxDupNgramFrac = 1.0, maxTopNgramFrac = 1.0))
      .select("doc_id").as[Long].collect().toSet
    assert(piped == Set(1L), s"stage must match the operator: $piped")
  }

  test("stripMarkdown: each syntax family unwraps or vanishes; prose untouched") {
    val d = Seq(
      (1L, "# Big Title\nbody"),
      (2L, "```\nhidden secret()\n```\nafter"),
      (3L, "inline `code span` here"),
      (4L, "see [the docs](https://x/y) and ![alt text](i.png)"),
      (5L, "> quoted\n>also quoted"),
      (6L, "**bold** and *italic* stay as words"),
      (7L, "before\n---\nafter"),
      (8L, "my_var and snake_case stay intact"),
      (9L, "plain prose stays byte-identical here")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.stripMarkdown(d, "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "Big Title body")
    assert(out(2L) == "after", "fence CONTENT must vanish")
    assert(out(3L) == "inline here")
    assert(out(4L) == "see the docs and alt text")
    assert(out(5L) == "quoted also quoted")
    assert(out(6L) == "bold and italic stay as words")
    assert(out(7L) == "before after")
    assert(out(8L) == "my_var and snake_case stay intact",
      "underscore emphasis deliberately untouched")
    assert(out(9L) == "plain prose stays byte-identical here")
  }

  test("exactSubstring contamination: verbatim hits only, loud guards") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "prefix the quick brown fox jumps suffix"),
      (3L, "the quick red fox"),
      (4L, "brown fox and quick brown both probes land here")
    ).toDF("doc_id", "text")
    val probes = Seq("quick brown", "brown fox").toDF("probe")
    val got = Contamination.exactSubstring(corpus, probes,
        "doc_id", "text", "probe")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 4L -> 2L),
      "doc 3 shares words but no verbatim probe")

    intercept[IllegalArgumentException](Contamination.exactSubstring(
      corpus, Seq("").toDF("probe"), "doc_id", "text", "probe"))
    intercept[IllegalArgumentException](Contamination.exactSubstring(
      corpus, Seq.empty[String].toDF("probe"), "doc_id", "text", "probe"))
    intercept[IllegalArgumentException](Contamination.exactSubstring(
      corpus, Seq("a", "b", "c").toDF("probe"), "doc_id", "text", "probe",
      maxProbes = 2))
  }

  // --- Contamination ----------------------------------------------------

  test("contamination: probe docs hit 1.0, supersets partial, clean absent") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // = probe
      (2L, "xx yy alpha beta gamma delta epsilon zeta eta theta"), // superset
      (3L, "totally unrelated words that never appear in any benchmark set")
    ).toDF("doc_id", "text")
    val probes = Seq("alpha beta gamma delta epsilon zeta eta theta")
      .toDF("text")
    val got = Contamination.check(corpus, probes, "doc_id", "text", "text", n = 8)
      .orderBy("doc_id").collect()
    assert(got.length == 2) // doc 3 shares nothing → absent
    assert(got(0).getAs[Long]("doc_id") == 1L &&
      got(0).getAs[Double]("contamination") == 1.0)
    // doc2: 3 grams total (10 toks), 1 matches (the probe's only gram)
    assert(got(1).getAs[Long]("doc_id") == 2L &&
      got(1).getAs[Long]("matched_grams") == 1L &&
      got(1).getAs[Long]("total_grams") == 3L)
  }

  test("decontaminate: threshold drops, strict mode, clean docs untouched") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),            // ratio 1.0
      (2L, "xx yy alpha beta gamma delta epsilon zeta eta theta"),      // ratio 1/3
      (3L, "totally unrelated words that never appear in any benchmark set"),
      (4L, "short doc")                                                  // no grams
    ).toDF("doc_id", "text")
    val probes = Seq("alpha beta gamma delta epsilon zeta eta theta").toDF("text")
    def kept(thr: Double) = Contamination.decontaminate(
        corpus, probes, "doc_id", "text", "text", n = 8,
        maxContamination = thr)
      .select("doc_id").as[Long].collect().toSet
    assert(kept(0.5) == Set(2L, 3L, 4L))   // only the full copy dropped
    assert(kept(0.2) == Set(3L, 4L))       // 1/3 >= 0.2 → superset dropped too
    assert(kept(0.0) == Set(3L, 4L))       // strict: any shared gram drops
    assert(kept(1.0) == Set(2L, 3L, 4L))   // only ratio-1.0 dropped
    intercept[IllegalArgumentException](
      Contamination.decontaminate(corpus, probes, "doc_id", "text", "text",
        maxContamination = 1.5))
  }

  test("decontaminateExcise: spans cut with the doc KEPT — multi-span, " +
      "husk, passthrough, whitespace-insensitive, loud guards") {
    val probe = "p1 p2 p3 p4 p5 p6" // 6 tokens → 3 windows at w=4
    val corpus = Seq(
      (1L, s"keep1 keep2 $probe tail1 tail2"),      // one interior span
      (2L, probe),                                   // fully contaminated
      (3L, "nothing shared here at all really"),     // clean passthrough
      (4L, "x   p1  p2 \t p3 p4 p5 p6"),            // ragged whitespace
      (5L, s"$probe mid1 mid2 mid3 mid4 $probe")     // two spans, one doc
    ).toDF("doc_id", "text")
    val probes = Seq(probe).toDF("text")
    val out = Contamination.decontaminateExcise(corpus, probes,
        "doc_id", "text", "text", w = 4)
      .orderBy("doc_id")
      .select("doc_id", "text", "contaminated_chars")
      .as[(Long, String, Long)].collect()
    assert(out(0) == (1L, "keep1 keep2  tail1 tail2", probe.length.toLong),
      s"interior span: ${out(0)}") // cut is exactly [start, end) — the
                                   // flanking spaces are NOT collapsed
    assert(out(1) == (2L, "", probe.length.toLong),
      s"husk contract: ${out(1)}")
    assert(out(2) == (3L, "nothing shared here at all really", 0L),
      s"clean doc must pass through byte-identical: ${out(2)}")
    // token granularity: irregular whitespace between tokens still
    // matches (windows hash normalized content), and the cut uses the
    // ORIGINAL codepoint offsets
    assert(out(3)._2 == "x   " && out(3)._3 == 20L,
      s"whitespace-insensitive match: ${out(3)}")
    assert(out(4)._2 == " mid1 mid2 mid3 mid4 " &&
      out(4)._3 == 2L * probe.length,
      s"two disjoint spans in one doc: ${out(4)}")
    // report surface agrees with the cut
    val spans = Contamination.contaminationSpans(corpus, probes,
        "doc_id", "text", "text", w = 4)
      .as[(Long, Int, Int)].collect().toSeq.sorted
    assert(spans.map(_._1).toSet == Set(1L, 2L, 4L, 5L))
    assert(spans.count(_._1 == 5L) == 2, "doc 5 reports two spans")
    assert(spans.filter(_._1 == 1L).map(s => s._3 - s._2).sum ==
      probe.length)
    // guards: short probes can never match; cap; stale column; the
    // probe side must be batch
    intercept[IllegalArgumentException](Contamination.decontaminateExcise(
      corpus, Seq("a b c").toDF("text"), "doc_id", "text", "text", w = 4))
    intercept[IllegalArgumentException](Contamination.decontaminateExcise(
      corpus, probes, "doc_id", "text", "text", w = 4,
      maxProbeWindows = 2))
    intercept[IllegalArgumentException](Contamination.decontaminateExcise(
      corpus.withColumn("contaminated_chars", lit(0L)), probes,
      "doc_id", "text", "text", w = 4))
    // asymmetric stride safety: the probe index is ALWAYS stride-1, so
    // a corpus grid at stride 2 still matches a leak planted at an ODD
    // token offset (both-sides-strided grids would desynchronize and
    // silently miss it). Bounds under-cover by <= stride-1 tokens per
    // edge, exactly the documented guarantee.
    val longProbe = "p1 p2 p3 p4 p5 p6 p7 p8"
    val strided = Contamination.decontaminateExcise(
        Seq((1L, s"lead $longProbe tail1")).toDF("doc_id", "text"),
        Seq(longProbe).toDF("text"),
        "doc_id", "text", "text", w = 4, stride = 2)
      .select("text", "contaminated_chars")
      .as[(String, Long)].collect().head
    assert(strided == ("lead p1  p8 tail1", 17L),
      s"stride-2 corpus grid vs offset-1 leak: $strided")
    // null text passes through as null with 0 contaminated chars
    val withNull = corpus.union(Seq((9L, null: String))
      .toDF("doc_id", "text"))
    // (fuzzy variant tested separately below)
    val nrow = Contamination.decontaminateExcise(withNull, probes,
        "doc_id", "text", "text", w = 4)
      .filter($"doc_id" === 9L)
      .select("text", "contaminated_chars").collect().head
    assert(nrow.isNullAt(0) && nrow.getLong(1) == 0L)
  }

  test("decontaminateFuzzy: edit-tolerant excision — verbatim and " +
      "single-edit leaks cut identically, the guarantee boundary " +
      "misses densely-edited leaks, probe hash family pinned") {
    // 20 planted 5-char words + spaces = 119 chars, 104 grams at k=16
    val slab = (1 to 20).map(i => f"fz$i%03d").mkString(" ")
    val slabEdited = slab.replace("fz010", "xx010")     // same length
    // edits every 3rd word → clean stretches ~2 words = 11 chars,
    // far under the w + k - 1 = 47-codepoint detection guarantee
    val slabDense = (1 to 20).map(i =>
      if (i % 3 == 0) f"xx$i%03d" else f"fz$i%03d").mkString(" ")
    val prefix = "plain leading words here and"        // 28 chars
    val suffix = "trailing words close the doc"
    val gap = (1 to 30).map(i => s"gap$i").mkString(" ") // >> 64-gram gap
    val corpus = Seq(
      (1L, s"$prefix $slab $suffix"),          // verbatim leak
      (2L, s"$prefix $slabEdited $suffix"),    // single middle edit
      (3L, s"$prefix plain content only here"),// clean
      (4L, s"$prefix $slabDense $suffix"),     // defeats the guarantee
      (5L, slab),                              // husk
      (6L, s"$slab $gap $slab")                // two far-apart leaks
    ).toDF("doc_id", "text")
    val probes = Seq(slab).toDF("text")
    val out = Contamination.decontaminateFuzzy(corpus, probes,
        "doc_id", "text", "text")
      .orderBy("doc_id").select("doc_id", "text", "contaminated_chars")
      .as[(Long, String, Long)].collect()
    assert(out(0) == (1L, s"$prefix  $suffix", slab.length.toLong),
      s"verbatim leak cut exactly (flanking spaces kept): ${out(0)}")
    assert(out(1) == (2L, s"$prefix  $suffix", slab.length.toLong),
      s"a single same-length token edit must not change the cut " +
        s"(the corrupted grams bridge inside the cluster): ${out(1)}")
    assert(out(2)._2 == s"$prefix plain content only here" &&
      out(2)._3 == 0L, s"clean doc byte-identical: ${out(2)}")
    assert(out(3)._2 == s"$prefix $slabDense $suffix" && out(3)._3 == 0L,
      "edits spaced under w + k - 1 codepoints defeat the winnow seed " +
        s"— the documented miss boundary: ${out(3)}")
    assert(out(4) == (5L, "", slab.length.toLong),
      s"husk contract: ${out(4)}")
    assert(out(5)._3 == 2L * slab.length,
      s"two disjoint leaks cut independently: ${out(5)}")
    // report surface agrees: doc 6 shows two spans, bounds exact
    val spans = Contamination.fuzzyContaminationSpans(corpus, probes,
        "doc_id", "text", "text")
      .orderBy("doc_id", "span_start")
      .select("doc_id", "span_start", "span_end", "matched_grams",
        "total_grams")
      .as[(Long, Int, Int, Int, Int)].collect()
    assert(spans.count(_._1 == 6L) == 2,
      s"two far-apart leaks = two spans: ${spans.toSeq}")
    val s1 = spans.find(_._1 == 1L).get
    assert(s1._2 == prefix.length + 1 && s1._3 == prefix.length + 1 +
      slab.length, s"verbatim bounds are the slab exactly: $s1")
    assert(s1._4 == s1._5, "verbatim leak: every gram in the run matches")
    val s2 = spans.find(_._1 == 2L).get
    assert(s2._2 == s1._2 && s2._3 == s1._3 && s2._4 < s2._5,
      s"edited leak: same bounds, corrupted grams inside: $s2")
    // hash-family pin: the probe SEED index is built from
    // WinnowFingerprints, whose selections must be a subset of the
    // PolyGramHashes image — drift in either formula breaks the subset
    val fps = probes.select(explode(graft.functions.SketchExprs
        .winnowFingerprints(col("text"), 16, 32)).as("f"))
      .select($"f.h").as[Long].collect().toSet
    val grams = probes.select(explode(graft.functions.FuzzySpanExprs
        .polyGramHashes(col("text"), 16)).as("g"))
      .as[Long].collect().toSet
    assert(fps.nonEmpty && fps.subsetOf(grams),
      "winnow fingerprint values must come from the poly gram-hash image")
    // curation stage: decontaminate_fuzzy runs after the verbatim pass,
    // keeps every row, adds near_contaminated_chars — the edited leak
    // loses its span inside the pipeline too
    val piped = Curation.pipeline(corpus, "doc_id", "text",
        Curation.PipelineConfig(decontaminateFuzzyProbes = Some(probes),
          maxDupWordFrac = 1.0, maxDupNgramFrac = 1.0,
          maxTopNgramFrac = 1.0))
      .orderBy("doc_id")
      .select("doc_id", "text", "near_contaminated_chars")
      .as[(Long, String, Long)].collect()
    assert(piped.length == corpus.count() &&
      piped.find(_._1 == 2L).get ==
        (2L, s"$prefix  $suffix", slab.length.toLong),
      s"stage must match the operator: ${piped.toSeq}")
    // loud guards: probes shorter than k, null text passthrough
    intercept[IllegalArgumentException](Contamination.decontaminateFuzzy(
      corpus, Seq("tiny").toDF("text"), "doc_id", "text", "text"))
    val nfz = Contamination.decontaminateFuzzy(
        Seq((9L, null: String)).toDF("doc_id", "text"), probes,
        "doc_id", "text", "text")
      .select("text", "contaminated_chars").collect().head
    assert(nfz.isNullAt(0) && nfz.getLong(1) == 0L)
  }

  test("checkBySuite: per-suite attribution — a doc leaking from two " +
      "suites reports one row per suite; missing suite column is loud") {
    val probes = Seq(
      ("mmlu", "alpha beta gamma delta epsilon zeta eta theta iota"),
      ("gsm8k", "one two three four five six seven eight nine ten")
    ).toDF("suite", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota tail " +
        "one two three four five six seven eight nine ten"), // both
      (2L, "one two three four five six seven eight nine ten only"),
      (3L, "nothing shared with any benchmark suite at all here")
    ).toDF("doc_id", "text")
    val out = Contamination.checkBySuite(corpus, probes, "doc_id",
        "text", "text", "suite", n = 8)
      .orderBy("doc_id", "suite")
      .select("doc_id", "suite", "matched_grams")
      .as[(Long, String, Long)].collect().toSeq
    assert(out.map(r => (r._1, r._2)) ==
      Seq((1L, "gsm8k"), (1L, "mmlu"), (2L, "gsm8k")),
      s"attribution rows: $out")
    assert(out.forall(_._3 > 0))
    intercept[IllegalArgumentException](Contamination.checkBySuite(
      corpus, probes, "doc_id", "text", "text", "nope"))
  }

  test("contamination: hashed grams are the exact xxhash64 image of string grams") {
    // the check() join runs on the native one-pass hash; pin it to the
    // readable string-gram definition it claims to mirror
    val d = docs.select("doc_id", "text").limit(50)
      .union(Seq((9999L, "a b! c,d e"), (9998L, "x y")).toDF("doc_id", "text"))
    val rows = d.select(
      sort_array(Contamination.hashedNgrams(col("text"), 3)).as("fast"),
      sort_array(array_distinct(transform(
        Contamination.ngrams(col("text"), 3), g => xxhash64(g)))).as("ref"))
      .collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("shingle strings: native one-pass equals the transform composition") {
    // the boilerplate recovery pass rides this expression; pin it to
    // the readable Contamination.ngrams definition (sorted compare —
    // the native form sorts, the composition keeps occurrence order)
    val d = docs.select($"text").limit(80)
      .union(Seq("a b! c,d e", "x y", "", "solo").toDF("text"))
    val rows = d.select(
      graft.functions.SketchExprs.shingleStrings($"text", 3).as("fast"),
      sort_array(Contamination.ngrams($"text", 3)).as("ref")).collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("contamination: docs shorter than n yield no grams, never a crash") {
    val corpus = Seq((1L, "too short"), (2L, "")).toDF("doc_id", "text")
    val probes = Seq("a b c d e f g h").toDF("text")
    assert(Contamination.check(corpus, probes, "doc_id", "text", "text").count() == 0)
    // short PROBES likewise
    val c2 = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    assert(Contamination.check(c2, Seq("tiny").toDF("text"),
      "doc_id", "text", "text").count() == 0)
  }

  test("splits: every row gets exactly one label, deterministically") {
    val d = docs.select($"doc_id")
    val split = Sampling.assignSplits(d, "doc_id",
      Map("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    // total partition: labels cover everything, rates near fractions
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == d.count())
    assert(counts.keySet == Set("train", "val", "test"))
    val trainRate = counts("train").toDouble / d.count()
    assert(trainRate > 0.7 && trainRate < 0.9, s"train rate $trainRate")
    // bit-identical on rerun
    val again = Sampling.assignSplits(d, "doc_id",
      Map("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(split.exceptAll(again).isEmpty)
    // fractions that don't sum to 1 (would orphan or double-label rows)
    // and column clashes are loud
    intercept[IllegalArgumentException](
      Sampling.assignSplits(d, "doc_id", Map("a" -> 0.5, "b" -> 0.4)))
    intercept[IllegalArgumentException](
      Sampling.assignSplits(split, "doc_id", Map("a" -> 1.0)))
    // a positive fraction that rounds to a zero-width bucket range is
    // loud (silently label-less splits were the ADVICE r5 finding)
    val tiny = intercept[IllegalArgumentException](
      Sampling.assignSplits(d, "doc_id", Map("big" -> (1.0 - 1e-8), "dust" -> 1e-8)))
    assert(tiny.getMessage.contains("dust"))
    // cuts come from CUMULATIVE rounding: many odd fractions still
    // partition every row exactly once with no boundary drift
    val many = Sampling.assignSplits(d, "doc_id",
      (1 to 7).map(i => s"s$i" -> (if (i == 7) 1.0 - 6 * 0.142857 else 0.142857)).toMap)
    assert(many.groupBy("split").count().collect().map(_.getLong(1)).sum == d.count())
  }

  // --- Partition invariance ---------------------------------------------

  test("deterministic ops are partition-count invariant (the any-cluster claim)") {
    // the same data at 1 partition and at 13 skewed partitions must
    // produce IDENTICAL assignments — hash-derived decisions may not
    // leak physical layout
    val base = (1L to 1000L).map(i => (i, (i % 31 + 1).toLong)).toDF("id", "toks")
    val layouts = Seq(base.coalesce(1), base.repartition(13, pmod($"id", lit(3))))

    val shuffles = layouts.map(d =>
      Shuffling.deterministicShuffle(d.select($"id"), "id", seed = 7L, shards = 8)
        .select("id", "shard", "shard_pos").collect().map(_.toSeq).toSet)
    assert(shuffles(0) == shuffles(1), "shuffle assignment leaked layout")

    val budgets = layouts.map(d =>
      Sampling.tokenBudget(d, "id", "toks", budget = 4000, shards = 8, seed = 5L)
        .select("id").as[Long].collect().toSet)
    assert(budgets(0) == budgets(1), "token budget leaked layout")

    val splits = layouts.map(d =>
      Sampling.assignSplits(d.select($"id"), "id",
          Map("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    assert(splits(0) == splits(1), "split assignment leaked layout")
  }

  // --- Interleave -------------------------------------------------------

  test("interleave: every prefix carries the weight ratio regardless of source size") {
    // source sizes 3000 vs 300 (10:1 supply) but weights 2:1 — the
    // virtual-time order must deliver ~2:1 at any prefix anyway
    val d = ((1L to 3000L).map(i => (i, "a")) ++
      (10001L to 10300L).map(i => (i, "b"))).toDF("id", "src")
    val vt = Mixing.interleave(d, "src", "id",
      Map("a" -> 2.0, "b" -> 1.0), seed = 3L)
    val prefix = vt.orderBy($"virtual_time", $"src", $"id").limit(600)
      .groupBy($"src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prefix("b") > 150 && prefix("b") < 250,
      s"600-row prefix should hold ~200 b-rows (weight 1 of 3): $prefix")
    assert(prefix("a") + prefix("b") == 600L)
    // deterministic; seed changes the schedule
    val t1 = vt.agg(sum($"virtual_time")).head.getDouble(0)
    assert(Mixing.interleave(d, "src", "id", Map("a" -> 2.0, "b" -> 1.0),
      seed = 3L).agg(sum($"virtual_time")).head.getDouble(0) == t1)
    assert(Mixing.interleave(d, "src", "id", Map("a" -> 2.0, "b" -> 1.0),
      seed = 4L).agg(sum($"virtual_time")).head.getDouble(0) != t1)
    // loud contract: unweighted source present, weighted source absent
    val noW = intercept[IllegalArgumentException](
      Mixing.interleave(d, "src", "id", Map("a" -> 2.0)))
    assert(noW.getMessage.contains("b"))
    val absent = intercept[IllegalArgumentException](
      Mixing.interleave(d, "src", "id",
        Map("a" -> 2.0, "b" -> 1.0, "ghost" -> 1.0)))
    assert(absent.getMessage.contains("ghost"))
    intercept[IllegalArgumentException](
      Mixing.interleave(d, "src", "id", Map("a" -> 0.0, "b" -> 1.0)))
    // null sources are a loud typed error, not an NPE from the coverage check
    val withNull = d.union(Seq((99999L, null.asInstanceOf[String])).toDF("id", "src"))
    val nullErr = intercept[IllegalArgumentException](
      Mixing.interleave(withNull, "src", "id", Map("a" -> 2.0, "b" -> 1.0)))
    assert(nullErr.getMessage.contains("null"))
  }

  // --- Token budget -----------------------------------------------------

  test("tokenBudget: under budget, near budget, deterministic, monotone, prefix-closed") {
    val d = (1L to 2000L).map(i => (i, (i % 37 + 3).toLong)).toDF("id", "toks")
    val total = d.agg(sum($"toks")).head.getLong(0)
    val budget = total / 3
    val shards = 8
    val kept = Sampling.tokenBudget(d, "id", "toks", budget, shards, seed = 5L)
    val keptToks = kept.agg(sum($"toks")).head.getLong(0)
    assert(keptToks <= budget, s"over budget: $keptToks > $budget")
    val maxToks = 39L // i % 37 + 3
    assert(keptToks >= budget - shards * maxToks,
      s"undershoot beyond the documented bound: $keptToks vs $budget")
    // deterministic
    val ids = kept.select("id").as[Long].collect().toSet
    assert(Sampling.tokenBudget(d, "id", "toks", budget, shards, seed = 5L)
      .select("id").as[Long].collect().toSet == ids)
    // different seed, different prefix order
    assert(Sampling.tokenBudget(d, "id", "toks", budget, shards, seed = 6L)
      .select("id").as[Long].collect().toSet != ids)
    // monotone: a bigger budget keeps a superset
    val more = Sampling.tokenBudget(d, "id", "toks", budget * 2, shards, seed = 5L)
      .select("id").as[Long].collect().toSet
    assert(ids.subsetOf(more), "larger budget must keep a superset")
    // prefix-closed per shard: any unkept row's (key, id) is AFTER every
    // kept row of its shard
    val keyed = d
      .withColumn("k", Shuffling.shuffleKey($"id", 5L))
      .withColumn("shard", pmod($"k", lit(shards.toLong)))
      .select($"id", $"k", $"shard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    keyed.groupBy(_._3).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._1)).map(_._1)
      val keptPrefix = sorted.takeWhile(ids.contains)
      assert(sorted.drop(keptPrefix.length).forall(!ids.contains(_)),
        "kept set must be a contiguous per-shard prefix")
    }
    // loud misuse
    intercept[IllegalArgumentException](
      Sampling.tokenBudget(d, "id", "toks", budget, shards = 0))
    intercept[IllegalArgumentException](
      Sampling.tokenBudget(d, "id", "toks", budget = 4, shards = 8))
  }

  // --- Mixture ----------------------------------------------------------

  test("mixture: composition tracks weights, binding domain keeps all") {
    // skewed fixture: 'a' has 4x the weight-relative supply of 'b', so
    // 'b' binds (keeps everything) and 'a' is downsampled to parity
    val d = (0L until 4000L).map(i => (i, if (i % 5 == 0) "b" else "a"))
      .toDF("id", "dom") // a: 3200, b: 800
    val kept = Sampling.mixture(d, "dom", "id",
      Map("a" -> 0.5, "b" -> 0.5), bucketFn = Sampling.portableBucket)
    val byDom = kept.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // T* = min(3200/0.5, 800/0.5) = 1600 → each domain targets 800
    assert(byDom("b") == 800L, s"binding domain must keep all: $byDom")
    assert(math.abs(byDom("a") - 800L) < 120, s"a should downsample to ~800: $byDom")
    // deterministic: the same call yields the same kept set
    val again = Sampling.mixture(d, "dom", "id",
      Map("a" -> 0.5, "b" -> 0.5), bucketFn = Sampling.portableBucket)
    assert(kept.exceptAll(again).isEmpty && again.exceptAll(kept).isEmpty)
  }

  test("diversitySample: equal cells keep all; sparse cell binds the quota") {
    // centroids on the axes of a 4-dim space → cell = nearest axis
    val cents: Array[Seq[Double]] = Array(
      Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0))
    def vec(axis: Int): Seq[Float] =
      Seq.tabulate(4)(i => if (i == axis) 1.0f else 0.0f)
    // balanced: 3 rows per cell → every threshold is 1.0, all kept
    val balanced = ((0L to 2L).map(i => (i, vec(0))) ++
      (10L to 12L).map(i => (i, vec(1)))).toDF("id", "vec")
    assert(Sampling.diversitySample(balanced, "id", "vec", cents,
      bucketFn = Sampling.portableBucket).count() == 6)
    // skewed: cell0 has 40 rows, cell1 has 10 → cell1 keeps all 10,
    // cell0 keeps exactly the ids whose portable bucket < 250000
    val skewed = ((0L until 40L).map(i => (i, vec(0))) ++
      (100L until 110L).map(i => (i, vec(1)))).toDF("id", "vec")
    val kept = Sampling.diversitySample(skewed, "id", "vec", cents,
        bucketFn = Sampling.portableBucket)
      .select("id").collect().map(_.getLong(0)).toSet
    def pb(id: Long) = ((id % 1000000007L) * 2654435761L) % 1000000007L % 1000000L
    val expect = (0L until 40L).filter(pb(_) < 250000L).toSet ++
      (100L until 110L).filter(pb(_) < 1000000L).toSet
    assert(kept == expect, s"kept=$kept expect=$expect")
    assert((100L until 110L).forall(kept), "binding cell must keep all rows")
    // empty corpus passes through
    val empty = Seq.empty[(Long, Seq[Float])].toDF("id", "vec")
    assert(Sampling.diversitySample(empty, "id", "vec", cents).count() == 0)
  }

  test("mixture: unweighted domains are dropped; bad weights are loud") {
    val d = Seq((1L, "a"), (2L, "junk"), (3L, "a")).toDF("id", "dom")
    val kept = Sampling.mixture(d, "dom", "id", Map("a" -> 1.0))
    assert(kept.filter($"dom" === "junk").count() == 0)
    assert(kept.count() == 2) // sole weighted domain binds → keeps all
    intercept[IllegalArgumentException] {
      Sampling.mixture(d, "dom", "id", Map("a" -> 0.0))
    }
    intercept[IllegalArgumentException] {
      Sampling.mixture(d, "dom", "id", Map("zzz" -> 1.0))
    }
    // a weighted domain with no rows is loud, not a silent renorm to
    // whatever domains happen to exist
    val e = intercept[IllegalArgumentException] {
      Sampling.mixture(d, "dom", "id", Map("a" -> 0.5, "zzz" -> 0.5))
    }
    assert(e.getMessage.contains("zzz"))
  }

  test("mixture: non-string domain columns match string weight keys") {
    // int category codes — the r5 ADVICE ClassCastException case
    val d = (0L until 300L).map(i => (i, if (i % 3 == 0) 1 else 2))
      .toDF("id", "domcode")
    val kept = Sampling.mixture(d, "domcode", "id", Map("1" -> 0.5, "2" -> 0.5))
    val byDom = kept.groupBy("domcode").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byDom(1) == 100L, s"binding domain keeps all: $byDom") // 100 vs 200 supply
    assert(byDom(2) <= 200L && byDom(2) > 50L, s"downsampled: $byDom")
  }

  // --- Shuffling --------------------------------------------------------

  test("shuffle: total, deterministic, contiguous positions per shard") {
    val d = docs.select($"doc_id")
    val s1 = Shuffling.deterministicShuffle(d, "doc_id", seed = 7L, shards = 8)
    // no row lost or duplicated
    assert(s1.count() == d.count())
    assert(s1.select("doc_id").distinct().count() == d.count())
    // per-shard positions are exactly 1..count(shard)
    s1.groupBy("shard").agg(count(lit(1)).as("n"), min("shard_pos").as("lo"),
        max("shard_pos").as("hi"), countDistinct("shard_pos").as("d"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("lo") == 1L && r.getAs[Long]("hi") == r.getAs[Long]("n")
          && r.getAs[Long]("d") == r.getAs[Long]("n"), r.toString)
      }
    // bit-identical on rerun
    val s2 = Shuffling.deterministicShuffle(d, "doc_id", seed = 7L, shards = 8)
    assert(s1.exceptAll(s2).isEmpty)
    // a different seed produces a genuinely different order
    val s3 = Shuffling.deterministicShuffle(d, "doc_id", seed = 8L, shards = 8)
    assert(s1.join(s3, Seq("doc_id"))
      .filter(s1("shard") === s3("shard") && s1("shard_pos") === s3("shard_pos"))
      .count() < d.count() / 2)
  }

  test("shuffle: writeShards lays out one ordered directory per shard") {
    val dir = tmpDir("shards")
    val d = docs.select($"doc_id", $"lang")
    Shuffling.writeShards(d, "doc_id", dir, seed = 7L, shards = 4)
    val back = spark.read.parquet(dir)
    assert(back.count() == d.count())
    assert(back.select("shard").distinct().count() == 4)
    // each shard directory exists and replays the deterministic order
    val expected = Shuffling.deterministicShuffle(d, "doc_id", 7L, 4)
    assert(back.select("doc_id", "shard", "shard_pos")
      .exceptAll(expected.select("doc_id", "shard", "shard_pos")).isEmpty)
    // within a written file, rows are stored in shard_pos order
    val shard0 = spark.read.parquet(s"$dir/shard=0").collect()
    val pos = shard0.map(_.getAs[Long]("shard_pos")).toSeq
    assert(pos == pos.sorted, "rows inside a shard file must be pre-ordered")
  }

  test("shuffle: order is uncorrelated with ingest order") {
    // within one shard, consecutive positions should NOT be consecutive
    // ids — count adjacent-position pairs whose ids are also adjacent
    val s = Shuffling.deterministicShuffle(
      spark.range(10000).toDF("id"), "id", seed = 42L, shards = 4)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("shard_pos")
    val adjacent = s.withColumn("prev", lag($"id", 1).over(w))
      .filter(abs($"id" - $"prev") === 1).count()
    assert(adjacent < 100, s"$adjacent adjacent id pairs — not shuffled")
  }

  // --- Curation pipeline ------------------------------------------------

  test("curation pipeline: each stage removes exactly its family") {
    val prose = "the quick brown fox jumps over the lazy dog near the river bank"
    val corpus = Seq(
      (1L, prose),                                       // survives all stages
      (2L, prose + " via https://spam.example.com/x"),   // stage 1: URL
      (3L, prose + (" buy now" * 40)),                   // stage 2: repetition
      (4L, prose),                                       // stage 3: dup of 1
      (5L, "completely different words entirely here now today friend")
    ).toDF("doc_id", "text")
    val kept = Curation.pipeline(corpus, "doc_id", "text",
        Curation.PipelineConfig(blocklist = Seq("spam.example.com"),
          maxDupWordFrac = 0.9, maxDupNgramFrac = 0.35, maxTopNgramFrac = 0.5))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(1L, 5L), s"kept $kept")
    // sampling composes: fraction 1.0 is identity, 0.0 keeps nothing
    assert(Curation.pipeline(corpus, "doc_id", "text",
      Curation.PipelineConfig(sampleFraction = 0.0)).count() == 0)
    // empty blocklist skips stage 1 entirely (doc 2 then survives)
    val noUrl = Curation.pipeline(corpus, "doc_id", "text",
        Curation.PipelineConfig(maxDupWordFrac = 0.9,
          maxDupNgramFrac = 0.35, maxTopNgramFrac = 0.5))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(noUrl == Seq(1L, 2L, 5L), s"kept $noUrl")
  }

  test("curation pipeline: decontaminate-excise stage cuts the leaked " +
      "span, keeps the doc, and feeds the drop stage the CLEANED text") {
    val leak = (1 to 8).map(i => s"lk$i").mkString(" ") // 8 tokens, w=4
    val corpus = Seq(
      (1L, s"real unique content body here $leak"),    // leak appended
      (2L, "other perfectly clean document words"),    // untouched
      (3L, leak)                                        // pure-leak husk
    ).toDF("doc_id", "text")
    val probes = Seq(leak).toDF("text")
    val cfg = Curation.PipelineConfig(maxDupWordFrac = 1.0,
      maxDupNgramFrac = 1.0, maxTopNgramFrac = 1.0,
      decontaminateExciseProbes = Some(probes),
      decontaminateExciseWindow = 4)
    val out = Curation.pipeline(corpus, "doc_id", "text", cfg)
      .select("doc_id", "text", "contaminated_chars")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L),
      s"excision must KEEP every document: ${out.toSeq}")
    assert(out(0)._2 == "real unique content body here " &&
      out(0)._3 == leak.length, s"span not cut: ${out(0)}")
    assert(out(1) == (2L, "other perfectly clean document words", 0L))
    assert(out(2)._2 == "" && out(2)._3 == leak.length,
      s"husk contract: ${out(2)}")
    // ordering vs the drop stage: with BOTH stages on (n = 8 → the
    // leak is one of doc 1's six 8-grams, ratio 1/6 > 0.1), doc 1
    // survives because its verbatim leak is excised BEFORE the n-gram
    // ratio is judged; without the excise stage the same config drops it
    val both = cfg.copy(contaminationProbes = Some(probes),
      maxContamination = 0.1)
    assert(Curation.pipeline(corpus, "doc_id", "text", both)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    val dropOnly = Curation.PipelineConfig(maxDupWordFrac = 1.0,
      maxDupNgramFrac = 1.0, maxTopNgramFrac = 1.0,
      contaminationProbes = Some(probes), maxContamination = 0.1)
    assert(Curation.pipeline(corpus, "doc_id", "text", dropOnly)
      .select("doc_id").as[Long].collect().toSet == Set(2L),
      "without excision the leak-carrying docs drop whole")
    // observed pipeline: excision is row-preserving — counts equal the
    // dedup stage's, and the kept rows carry the same excised text
    val (odf, counts) = Curation.pipelineObserved(corpus, "doc_id", "text", both)
    val okept = odf.select("doc_id", "text", "contaminated_chars")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    val m = counts()
    assert(m("after_dedup") == 3L && m("after_decontamination") == 3L &&
      m("kept") == 3L, s"stage counts: $m")
    assert(okept.toSeq == out.toSeq,
      "observed pipeline must produce the lazy pipeline's rows")
  }

  test("curation pipeline: observed ≡ lazy under EVERY batch stage at " +
      "once (the r12 lang-id drift bug, generalized into a guard)") {
    // a corpus where every stage has something to do; the two pipeline
    // variants must produce identical rows — pipelineObserved only
    // ADDS counting, so any difference is a stage silently missing
    // from one path (exactly how observed runs dropped lang-id until
    // the capstone e2e caught it)
    val leak = (1 to 8).map(i => s"lk$i").mkString(" ")
    val prose = "the quick brown fox jumps over the lazy dog by the river"
    val refBody = "seven small children gather ripe apples under clear " +
      "autumn skies today"
    val corpus = Seq(
      // the dup pair is SHORTER than the 8-token substring window, so
      // excision cannot split it before the soft-dedup stage weighs it
      (1L, "<p>seven small children gather apples</p>"),
      (2L, "<p>seven small children gather apples</p>"),
      (3L, s"<p>$prose two via https://spam.example.com/x page</p>"),
      (4L, s"<p>$prose three $leak</p>"),               // excise target
      (5L, "<p>der schnelle braune fuchs springt über den faulen " +
        "hund am großen fluss</p>"),                    // lang drop
      (6L, s"<p>${"buy now " * 30}</p>"),               // repetition drop
      (7L, s"<p>$refBody</p>"),                         // reference drop
      (8L, s"<p>$prose five $leak $leak</p>")           // excise non-keeper
    ).toDF("doc_id", "text")
    val seed = Seq((prose, "en"),
      ("seven small children gather apples under clear autumn skies", "en"),
      ("der schnelle braune fuchs springt über den faulen hund", "de"),
      ("die müden kinder gehen früh nach hause im kalten winter", "de"))
      .toDF("text", "lang")
    val (lm, ls) = LangId.train(seed, "text", "lang", vocabSize = 1000)
    val cfg = Curation.PipelineConfig(
      blocklist = Seq("spam.example.com"),
      stripHtml = true, stripMarkdown = true, fixMojibake = true,
      normalizeUnicode = Some("NFC"),
      c4Rules = false, gopherRules = false, // line-shape rules would
        // empty this tagged corpus; their parity is pinned in their
        // own stage tests
      langId = Some((lm, ls, Seq("en"))),
      // hi = 3.0: a 5-word page deflates ABOVE 1.0 (fixed stream
      // overhead dominates) and must not trip the noise tail here
      compressionBand = Some((0.01, 3.0)),
      maxDupWordFrac = 0.9, maxDupNgramFrac = 0.5, maxTopNgramFrac = 0.9,
      lineDedupMinDocs = Some(50), // present but inert on one-line docs
      substringDedupWindow = Some(8),
      softDedup = true,
      referenceSnapshot = Some(Seq(refBody).toDF("text")),
      decontaminateExciseProbes = Some(Seq(leak).toDF("text")),
      decontaminateExciseWindow = 8,
      contaminationProbes = Some(Seq(leak).toDF("text")),
      contaminationN = 8, maxContamination = 0.9,
      sampleFraction = 1.0, tokenBudget = Some(1000L))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "text", "dup_count", "weight", "contaminated_chars")
      .as[(Long, String, Long, Double, Long)].collect().toSet
    val lazyRows = rows(Curation.pipeline(corpus, "doc_id", "text", cfg))
    val (odf, counts) = Curation.pipelineObserved(corpus, "doc_id", "text", cfg)
    val observedRows = rows(odf)
    assert(lazyRows.nonEmpty && lazyRows == observedRows,
      s"lazy ${lazyRows.map(_._1)} vs observed ${observedRows.map(_._1)}")
    // and the expected stage effects actually happened
    val ids = lazyRows.map(_._1)
    assert(ids == Set(1L, 2L, 4L, 8L), s"stage drops missing: $ids")
    assert(lazyRows.filter(r => Set(1L, 2L).contains(r._1))
      .forall(_._4 == 0.5), "soft dedup weights missing")
    assert(lazyRows.find(_._1 == 4L).exists(_._5 > 0L),
      "excise chars missing")
    val m = counts()
    assert(m("input") == 8L && m("kept") == lazyRows.size.toLong, s"$m")
  }

  test("curation pipeline: compression band drops both entropy tails") {
    val prose = "the quarterly report shows steady growth across three " +
      "segments with hardware revenue up nine percent and services " +
      "margin holding despite the currency headwind this period"
    val rnd = new scala.util.Random(7)
    val corpus = Seq(
      (1L, prose),                                      // normal entropy
      (2L, "subscribe now " * 300),                     // crushes: below band
      (3L, Array.fill(3000)(rnd.nextPrintableChar()).mkString) // noise: above
    ).toDF("doc_id", "text")
    val loose = Curation.PipelineConfig(maxDupWordFrac = 1.0,
      maxDupNgramFrac = 1.0, maxTopNgramFrac = 1.0,
      compressionBand = Some((0.2, 0.8)))
    assert(Curation.pipeline(corpus, "doc_id", "text", loose)
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
    // unset band keeps all three (repetition knobs loosened)
    assert(Curation.pipeline(corpus, "doc_id", "text",
        loose.copy(compressionBand = None)).count() == 3)
    // bad band is loud
    intercept[IllegalArgumentException](Curation.pipeline(corpus,
      "doc_id", "text", loose.copy(compressionBand = Some((0.9, 0.2))))
      .count())
  }

  test("curation pipeline: near-dup reference mode drops grown copies") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, base + " lambda mu"),  // near-dup of the shipped snapshot → drop
      (2L, base),                 // exact ref content → drop
      (3L, "different content on an unrelated topic entirely here")
    ).toDF("doc_id", "text")
    val ref = Seq(base).toDF("text")
    val loose = Curation.PipelineConfig(maxDupWordFrac = 1.0,
      maxDupNgramFrac = 1.0, maxTopNgramFrac = 1.0,
      referenceSnapshot = Some(ref))
    // exact mode only catches doc 2; near-dup mode also catches doc 1
    assert(Curation.pipeline(corpus, "doc_id", "text", loose)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    assert(Curation.pipeline(corpus, "doc_id", "text",
        loose.copy(referenceNearDup = Some(0.5)))
      .select("doc_id").as[Long].collect().toSet == Set(3L))
    // the observed pipeline runs the same near-dup reference stage
    val (observedKept, counts) = Curation.pipelineObserved(corpus, "doc_id",
      "text", loose.copy(referenceNearDup = Some(0.5)))
    assert(observedKept.select("doc_id").as[Long].collect().toSet == Set(3L))
    assert(counts()("after_reference") == 1L)
    // near-dup without a snapshot is loud
    intercept[graft.core.GraftError.Configuration](
      Curation.pipeline(corpus, "doc_id", "text",
        Curation.PipelineConfig(referenceNearDup = Some(0.5))))

    // the STREAM form — a per-row probe over the driver-collected
    // reference index — must reach the batch verdicts exactly
    val idx = Dedup.nearDupRefIndex(ref, "text", threshold = 0.5)
    val probed = corpus
      .withColumn("__dup", Dedup.nearDupProbe(col("text"), idx))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(probed == Map(1L -> true, 2L -> true, 3L -> false),
      s"probe verdicts: $probed")
    val batchKept = Dedup.nearDupAgainstReference(corpus, ref,
        "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(probed.filterNot(_._2).keySet == batchKept,
      "probe and batch join must keep the same documents")
    // loud caps: a reference past maxRefDocs rejects
    intercept[IllegalArgumentException](
      Dedup.nearDupRefIndex(ref, "text", maxRefDocs = 0))
    intercept[IllegalArgumentException](
      Dedup.nearDupRefIndex(ref, "text", maxShingleEntries = 2L))
    // a streaming snapshot rejects
    val scratch = tmpDir("neardup_idx_stream")
    ref.write.mode("overwrite").parquet(scratch)
    intercept[IllegalArgumentException](Dedup.nearDupRefIndex(
      spark.readStream.schema(ref.schema).parquet(scratch), "text"))
  }

  test("curation pipeline: line dedup stage collapses footer-differing copies") {
    val corpus = Seq(
      (1L, "shared body text\nFOOTER"),
      (2L, "shared body text"),          // identical once FOOTER strips
      (3L, "first unique page\nFOOTER"),
      (4L, "second unique page\nFOOTER"),
      (5L, "third unique page\nFOOTER")  // FOOTER in 4 docs >= 3
    ).toDF("doc_id", "text")
    // loose repetition thresholds: these 3-4 word docs are not the
    // stage under test (a 3-bigram doc's top-bigram fraction is 1/3)
    val cfg = Curation.PipelineConfig(lineDedupMinDocs = Some(3),
      maxDupWordFrac = 0.9, maxDupNgramFrac = 0.9, maxTopNgramFrac = 0.9)
    for (c <- Seq(cfg, cfg.copy(persistSurvivors = true))) {
      val kept = Curation.pipeline(corpus, "doc_id", "text", c)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(kept.keySet == Set(1L, 3L, 4L, 5L), s"kept ${kept.keySet}")
      assert(kept(1L) == "shared body text", "footer must be stripped pre-dedup")
      assert(kept(3L) == "first unique page")
      // observed variant agrees and still counts correctly
      val (out, counts) = Curation.pipelineObserved(corpus, "doc_id", "text", c)
      assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L, 5L))
      assert(counts()("after_dedup") == 4L)
    }
    // without the stage, nothing dedups (all five texts differ)
    assert(Curation.pipeline(corpus, "doc_id", "text",
      cfg.copy(lineDedupMinDocs = None)).count() == 5)
  }

  test("curation pipeline: substring dedup stage excises cross-doc spans " +
      "and collapsed copies dedup") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta unique one"),
      (2L, "alpha beta gamma delta unique two"), // shares 4-token prefix
      (3L, "totally different page here"),
      (4L, "alpha beta gamma delta echo golf hotel india"),
      // doc 5's whole content is a 4-token window OF doc 4 (the
      // whitespace-normalized match ignores the leading space), so 5
      // husks to " " with 4 as the keeper
      (5L, " echo golf hotel india")
    ).toDF("doc_id", "text")
    val cfg = Curation.PipelineConfig(substringDedupWindow = Some(4),
      maxDupWordFrac = 0.9, maxDupNgramFrac = 0.9, maxTopNgramFrac = 0.9)
    for (c <- Seq(cfg, cfg.copy(persistSurvivors = true))) {
      val kept = Curation.pipeline(corpus, "doc_id", "text", c)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // doc 1 is the keeper (min id); 2 loses the shared prefix AND the
      // overlapping "beta gamma delta unique" window it also shares with
      // doc 1 (merged into one span); 4 keeps its remainder (keeper of
      // the window doc 5 duplicates); 5 husks to " "
      assert(kept.keySet == Set(1L, 2L, 3L, 4L, 5L), s"kept ${kept.keySet}")
      assert(kept(1L) == "alpha beta gamma delta unique one")
      assert(kept(2L) == " two", s"got '${kept(2L)}'")
      assert(kept(3L) == "totally different page here")
      assert(kept(4L) == " echo golf hotel india")
      assert(kept(5L) == " ", "whole-content duplicate husks")
      val (out, counts) = Curation.pipelineObserved(corpus, "doc_id", "text", c)
      assert(out.count() == 5L && counts()("after_dedup") == 5L)
    }
    // without the stage nothing is rewritten (all five texts differ)
    val raw = Curation.pipeline(corpus, "doc_id", "text",
      cfg.copy(substringDedupWindow = None))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(raw.size == 5 && raw(2L) == "alpha beta gamma delta unique two")
  }

  test("curation pipeline: soft dedup keeps duplicates with 1/n weights") {
    val corpus = Seq(
      (1L, "identical body of text"),
      (2L, "identical body of text"),
      (3L, "a unique page standing alone")
    ).toDF("doc_id", "text")
    val cfg = Curation.PipelineConfig(softDedup = true,
      maxDupWordFrac = 0.9, maxDupNgramFrac = 0.9, maxTopNgramFrac = 0.9)
    val out = Curation.pipeline(corpus, "doc_id", "text", cfg)
      .select("doc_id", "dup_count", "weight")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(out == Seq((1L, 2L, 0.5), (2L, 2L, 0.5), (3L, 1L, 1.0)))
    // observed variant: after_dedup equals the stage INPUT count —
    // soft dedup drops nothing
    val (obsOut, counts) = Curation.pipelineObserved(corpus, "doc_id",
      "text", cfg)
    assert(obsOut.count() == 3L && counts()("after_dedup") == 3L)
    // a pre-existing weight column is a loud conflict, not a clobber
    intercept[IllegalArgumentException](
      Curation.pipeline(corpus.withColumn("weight", lit(1.0)),
        "doc_id", "text", cfg))
  }

  test("curation pipeline: stripHtml stage normalizes markup before dedup") {
    val corpus = Seq(
      (1L, "<p>same text here today</p>"),
      (2L, "same text here today"),       // identical once tags strip
      (3L, "another unique document entirely")
    ).toDF("doc_id", "text")
    val kept = Curation.pipeline(corpus, "doc_id", "text",
        Curation.PipelineConfig(stripHtml = true, maxDupWordFrac = 0.9,
          maxDupNgramFrac = 0.9, maxTopNgramFrac = 0.9))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept.keySet == Set(1L, 3L), s"kept ${kept.keySet}")
    assert(kept(1L) == "same text here today", "output carries stripped text")
    // markdown stage composes the same way: a markdown-dressed copy
    // dedups against its plain twin once stripped
    val mdCorpus = Seq(
      (1L, "# Title\nsame words land here today"),
      (2L, "Title same words land here today"),
      (3L, "a different document altogether")
    ).toDF("doc_id", "text")
    val mdKept = Curation.pipeline(mdCorpus, "doc_id", "text",
        Curation.PipelineConfig(stripMarkdown = true, maxDupWordFrac = 0.9,
          maxDupNgramFrac = 0.9, maxTopNgramFrac = 0.9))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(mdKept.keySet == Set(1L, 3L), s"kept ${mdKept.keySet}")
    assert(mdKept(1L) == "Title same words land here today")
    // mojibake stage composes the same way: a mangled copy dedups
    // against its clean twin once repaired
    def mangle(x: String) = new String(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.Charset.forName("windows-1252"))
    val moji = Seq(
      (1L, "caf\u00E9 talk \u2013 part one"),
      (2L, mangle("caf\u00E9 talk \u2013 part one")),
      (3L, "unrelated clean document")
    ).toDF("doc_id", "text")
    val mojiKept = Curation.pipeline(moji, "doc_id", "text",
        Curation.PipelineConfig(fixMojibake = true, maxDupWordFrac = 0.9,
          maxDupNgramFrac = 0.9, maxTopNgramFrac = 0.9))
      .select("doc_id").as[Long].collect().toSet
    assert(mojiKept == Set(1L, 3L), s"kept $mojiKept")
    // and NFC normalization: a decomposed copy dedups against its
    // composed twin
    val uni = Seq(
      (1L, "caf\u00E9 discussion thread"),
      (2L, "cafe\u0301 discussion thread"),
      (3L, "another clean document")
    ).toDF("doc_id", "text")
    val uniCfg = Curation.PipelineConfig(normalizeUnicode = Some("NFC"),
      maxDupWordFrac = 0.9, maxDupNgramFrac = 0.9, maxTopNgramFrac = 0.9)
    val uniKept = Curation.pipeline(uni, "doc_id", "text", uniCfg)
      .select("doc_id").as[Long].collect().toSet
    assert(uniKept == Set(1L, 3L), s"kept $uniKept")
    intercept[graft.core.GraftError.Configuration](
      Curation.pipeline(uni, "doc_id", "text",
        uniCfg.copy(normalizeUnicode = Some("NFD"))).count())
  }

  test("curation pipeline: decontamination and token-budget stages compose") {
    val prose = "the quick brown fox jumps over the lazy dog near the river bank"
    val corpus = Seq(
      (1L, prose),
      (2L, "completely different words entirely here now today my friend"),
      (3L, "yet another unique document with its own words and nothing shared"),
      (4L, prose + " extra tail words here")  // shares 8-grams with the probe
    ).toDF("doc_id", "text")
    val probes = Seq(prose).toDF("text")
    val cfg = Curation.PipelineConfig(
      maxDupWordFrac = 0.9, maxDupNgramFrac = 0.9, maxTopNgramFrac = 0.9,
      contaminationProbes = Some(probes), maxContamination = 0.7)
    val kept = Curation.pipeline(corpus, "doc_id", "text", cfg)
      .select("doc_id").as[Long].collect().toSet
    // 1 = probe copy (ratio 1.0) dropped; 4 overlaps exactly 6/10 < 0.7, kept
    // (at max = 0.6 the >= boundary would drop it — pinned by decontaminate's own test)
    assert(kept == Set(2L, 3L, 4L), s"kept $kept")
    // observed variant counts the stage and agrees on the kept set
    val (out, counts) = Curation.pipelineObserved(corpus, "doc_id", "text", cfg)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(2L, 3L, 4L))
    val m = counts()
    assert(m("after_dedup") == 4L && m("after_decontamination") == 3L &&
      m("kept") == 3L, m.toString)
    // token budget composes last: one token below the survivors' total
    // must cut at least the boundary doc but keep a non-empty prefix
    val survivorToks = corpus.filter($"doc_id".isin(2L, 3L, 4L))
      .select(sum(TextAnalysis.tokenCountEstimate($"text").cast("long")))
      .head.getLong(0)
    val budgeted = Curation.pipeline(corpus, "doc_id", "text",
      cfg.copy(tokenBudget = Some(survivorToks - 1), tokenBudgetShards = 1))
    val bIds = budgeted.select("doc_id").as[Long].collect().toSet
    assert(bIds.nonEmpty && bIds.subsetOf(Set(2L, 3L, 4L)) && bIds.size < 3,
      s"budget must cut: $bIds")
    assert(budgeted.columns.toSeq == corpus.columns.toSeq,
      "helper token column must not leak into the output")
  }

  test("curation pipeline: observed variant reports per-stage drop counts") {
    val prose = "the quick brown fox jumps over the lazy dog near the river bank"
    val corpus = Seq(
      (1L, prose),
      (2L, prose + " via https://spam.example.com/x"),
      (3L, prose + (" buy now" * 40)),
      (4L, prose),
      (5L, "completely different words entirely here now today friend")
    ).toDF("doc_id", "text")
    val (out, counts) = Curation.pipelineObserved(corpus, "doc_id", "text",
      Curation.PipelineConfig(blocklist = Seq("spam.example.com"),
        maxDupWordFrac = 0.9, maxDupNgramFrac = 0.35, maxTopNgramFrac = 0.5))
    assert(out.count() == 2) // consume → dedup/kept observations complete
    val c = counts()
    assert(c == Map("input" -> 5L, "after_urls" -> 4L,
      "after_repetition" -> 3L, "after_dedup" -> 2L, "kept" -> 2L), c.toString)
    // same kept set as the unobserved pipeline
    val plain = Curation.pipeline(corpus, "doc_id", "text",
      Curation.PipelineConfig(blocklist = Seq("spam.example.com"),
        maxDupWordFrac = 0.9, maxDupNgramFrac = 0.35, maxTopNgramFrac = 0.5))
    assert(out.select("doc_id").exceptAll(plain.select("doc_id")).isEmpty)
  }

  // --- Incremental dedup ------------------------------------------------

  test("againstReference: drops by content, keeps the rest; bloom path agrees") {
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "epsilon"),
      (4L, "alpha beta")).toDF("doc_id", "text")
    // reference carries CONTENT only — ids there are unrelated
    val ref = Seq((99L, "alpha beta"), (98L, "zeta")).toDF("rid", "text")
    val kept = Dedup.againstReference(corpus, ref, "doc_id", Seq("text"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(2L, 3L), s"both 'alpha beta' rows must drop: $kept")
    val keptBloom = Dedup.againstReference(corpus, ref, "doc_id", Seq("text"),
      bloomPrefilter = true, expectedRefItems = 100L)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(keptBloom == kept, "bloom prefilter must not change semantics")
    // null content matches null content (contentHash keeps null explicit)
    val withNull = Seq((1L, Option.empty[String]), (2L, Some("x")))
      .toDF("doc_id", "text")
    val refNull = Seq(Option.empty[String]).toDF("text")
    assert(Dedup.againstReference(withNull, refNull, "doc_id", Seq("text"))
      .select("doc_id").as[Long].collect().toSeq == Seq(2L))
  }

  // --- LM scoring -------------------------------------------------------

  test("lm score: hand-computed unigram log-probs, OOV floor, edge docs") {
    // corpus: "a" x5, "b" x2, "c" x1 → total 8; vocab top-2 = {a:5, b:2}
    val d = Seq((1L, "a a b"), (2L, "a a b c"), (3L, ""), (4L, "a"))
      .toDF("doc_id", "text")
    val vocab = LmScore.unigramVocab(d, "text", vocabSize = 2)
    assert(vocab.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 5L), ("b", 2L)))
    val total = LmScore.totalTokens(d, "text")
    assert(total == 8L)
    val rows = LmScore.score(d, "doc_id", "text", vocab, total)
      .orderBy("doc_id").collect()
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc1: (2*ln(5/8) + ln(2/8)) / 3
    assert(rows(0).getAs[Long]("n_tokens") == 3L)
    assert(rows(0).getAs[Double]("avg_logprob") ==
      r6((2 * math.log(5.0 / 8) + math.log(2.0 / 8)) / 3))
    // doc2 adds the OOV-floored "c": ln(1/8) — c fell outside the vocab
    assert(rows(1).getAs[Double]("avg_logprob") ==
      r6((2 * math.log(5.0 / 8) + math.log(2.0 / 8) + math.log(1.0 / 8)) / 4))
    // empty doc stays as 0 / 0.0
    assert(rows(2).getAs[Long]("n_tokens") == 0L &&
      rows(2).getAs[Double]("avg_logprob") == 0.0)
    // common-word doc scores higher than the OOV-heavy one
    assert(rows(3).getAs[Double]("avg_logprob") >
      rows(1).getAs[Double]("avg_logprob"))
    // guard: clash with an output column is loud
    intercept[IllegalArgumentException](LmScore.score(
      d.withColumn("n_tokens", lit(1L)), "doc_id", "text", vocab, total))
    // guard: a token-less corpus has no denominator — the frame form
    // fails in-plan, as the Long form's require does
    val tokenless = Seq((5L, ""), (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val noTotal = intercept[Exception](LmScore.score(
      d.filter(col("doc_id") <= 2L), "doc_id", "text", vocab,
      LmScore.totalTokensDf(tokenless, "text")).collect())
    assert((Option(noTotal.getMessage) ++ Option(noTotal.getCause)
      .map(_.getMessage)).exists(_.contains("total tokens")), noTotal)
  }

  test("collocations: PMI separates bound pairs from frequent-independent") {
    // 'quantum flux' always adjacent (bound); 'the' frequent everywhere
    val doc = "the quantum flux drives the reactor and " +
      "the quantum flux powers the core and the quantum flux hums"
    val d = Seq.fill(3)(doc).toDF("text")
    val out = LmScore.collocations(d, "text", minCount = 3, k = 50)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val qf = out(("quantum", "flux"))
    assert(qf.getAs[Long]("pair_count") == 9L)
    // hand PMI: c_qf=9, c_q=9, c_f=9, T = tokens total
    val T = 3L * doc.split("\\W+").count(_.nonEmpty)
    val expected = math.floor(
      math.log(9.0 * T / (9.0 * 9.0)) * 1e6 + 0.5) / 1e6
    assert(qf.getAs[Double]("pmi") == expected)
    // bound pair outranks the frequent-independent 'the'-pairs
    val thePmi = out.collect { case ((a, b), r) if a == "the" || b == "the" =>
      r.getAs[Double]("pmi") }
    assert(thePmi.forall(_ < qf.getAs[Double]("pmi")))
    // minCount kills hapax pairs entirely
    assert(!out.contains(("flux", "hums")) || out(("flux", "hums"))
      .getAs[Long]("pair_count") >= 3L)
    intercept[IllegalArgumentException](
      LmScore.collocations(d, "text", minCount = 1))
  }

  test("ccnet buckets: exact-tercile tiers, ties, zero-token exclusion") {
    // six scored docs, distinct proxies 1..6 (score = -proxy):
    // k1 = ceil(6/3) = 2, k2 = ceil(12/3) = 4 -> 2 head, 2 middle, 2 tail
    val scored = Seq(
      (1L, 10L, -1.0), (2L, 10L, -2.0), (3L, 10L, -3.0),
      (4L, 10L, -4.0), (5L, 10L, -5.0), (6L, 10L, -6.0),
      (7L, 0L, 0.0) // token-less: no perplexity, excluded
    ).toDF("doc_id", "n_tokens", "avg_logprob")
    val out = LmScore.perplexityBuckets(scored, "doc_id")
      .orderBy("doc_id").collect()
    assert(out.length == 6)
    assert(out.map(_.getAs[String]("bucket")).toSeq ==
      Seq("head", "head", "middle", "middle", "tail", "tail"))
    assert(out(0).getAs[Double]("perplexity_proxy") == 1.0)

    // ties AT the cut all land in the same tier (head can exceed n/3):
    // proxies (1,1,1,5,6,9): t1 = 2nd smallest = 1 -> three heads
    val tied = Seq(
      (1L, 5L, -1.0), (2L, 5L, -1.0), (3L, 5L, -1.0),
      (4L, 5L, -5.0), (5L, 5L, -6.0), (6L, 5L, -9.0)
    ).toDF("doc_id", "n_tokens", "avg_logprob")
    val tiers = LmScore.perplexityBuckets(tied, "doc_id")
      .orderBy("doc_id").collect().map(_.getAs[String]("bucket")).toSeq
    assert(tiers == Seq("head", "head", "head", "middle", "tail", "tail"))

    // two custom labels: median split, k1 = ceil(4/2) = 2
    val two = LmScore.perplexityBuckets(
      Seq((1L, 1L, -1.0), (2L, 1L, -2.0), (3L, 1L, -3.0), (4L, 1L, -4.0))
        .toDF("doc_id", "n_tokens", "avg_logprob"),
      "doc_id", labels = Seq("keep", "drop"))
      .orderBy("doc_id").collect().map(_.getAs[String]("bucket")).toSeq
    assert(two == Seq("keep", "keep", "drop", "drop"))

    // guards: clashing output column, degenerate/duplicate labels
    intercept[IllegalArgumentException](LmScore.perplexityBuckets(
      scored.withColumn("bucket", lit("x")), "doc_id"))
    intercept[IllegalArgumentException](
      LmScore.perplexityBuckets(scored, "doc_id", labels = Seq("only")))
    intercept[IllegalArgumentException](
      LmScore.perplexityBuckets(scored, "doc_id", labels = Seq("a", "a")))
  }

  test("bigram LM: stupid-backoff scoring, hand-computed; order sensitivity") {
    // corpus: two copies of "the cat sat" and one reversal. unigram
    // counts: the/cat/sat = 3 each, total 9; bigrams with context in
    // vocab: (the,cat)x2, (cat,sat)x2, (sat,cat)x1, (cat,the)x1 —
    // bigramSize=2 keeps exactly the two count-2 pairs (total-order cut)
    val d = Seq((1L, "the cat sat"), (2L, "the cat sat"),
      (3L, "sat cat the"), (4L, ""), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val vocab = LmScore.unigramVocab(d, "text", vocabSize = 10)
    val total = LmScore.totalTokens(d, "text")
    assert(total == 9L)
    val bi = LmScore.bigramCounts(d, "text", vocab, bigramSize = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(bi.toSeq == Seq(("cat", "sat", 2L), ("the", "cat", 2L)),
      s"bigram cut must be the deterministic total order: ${bi.toSeq}")
    val rows = LmScore.scoreBigram(d, "doc_id", "text", vocab,
      LmScore.bigramCounts(d, "text", vocab, bigramSize = 2), total)
      .orderBy("doc_id").collect()
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc1: first token ln(3/9); (the,cat) -> ln(2/3); (cat,sat) -> ln(2/3)
    val intact = (math.log(3.0 / 9) + 2 * math.log(2.0 / 3)) / 3
    assert(rows(0).getAs[Long]("n_tokens") == 3L)
    assert(rows(0).getAs[Double]("avg_logscore") == r6(intact))
    // doc3: first ln(3/9); (sat,cat) and (cat,the) fell out of the cut ->
    // backoff ln(0.4) + ln(3/9) each
    val reversed = (math.log(3.0 / 9) +
      2 * (math.log(0.4) + math.log(3.0 / 9))) / 3
    assert(rows(2).getAs[Double]("avg_logscore") == r6(reversed))
    assert(rows(0).getAs[Double]("avg_logscore") >
      rows(2).getAs[Double]("avg_logscore"),
      "same word multiset, scrambled order must score lower")
    // empty and null docs stay as 0 / 0.0
    Seq(3, 4).foreach { i =>
      assert(rows(i).getAs[Long]("n_tokens") == 0L &&
        rows(i).getAs[Double]("avg_logscore") == 0.0, rows(i).toString)
    }
    // guard: clash with a model/output column is loud
    intercept[IllegalArgumentException](LmScore.scoreBigram(
      d.withColumn("bcnt", lit(1L)), "doc_id", "text", vocab,
      LmScore.bigramCounts(d, "text", vocab), total))
    // guard: a token-less corpus has no denominator — the frame form
    // fails in-plan, as the Long form's require does
    val tokenless = d.filter(col("doc_id") >= 4L)
    val noTotal = intercept[Exception](LmScore.scoreBigram(
      d.filter(col("doc_id") <= 2L), "doc_id", "text", vocab,
      LmScore.bigramCounts(d, "text", vocab),
      LmScore.totalTokensDf(tokenless, "text")).collect())
    assert((Option(noTotal.getMessage) ++ Option(noTotal.getCause)
      .map(_.getMessage)).exists(_.contains("total tokens")), noTotal)
  }

  // --- Repeated spans ---------------------------------------------------

  test("spans: aligned repeats counted exactly; short docs stay as zeros") {
    // k=10, stride=5: doc2 = doc1 + tail → doc1's windows all reappear
    // in doc2 at the same offsets
    val base = "abcdefghijklmnopqrstuvwxyz0123456789ABCD" // 40 chars
    val d = Seq(
      (1L, base),                           // windows at 0,5,...,30 → 7
      (2L, base + "-EXTRA-TAIL-PADDING"),   // first 7 windows == doc1's
      (3L, "tiny"),                         // < k → no windows
      (4L, "zZyYxXwWvVuUtTsSrRqQpPoOnNmMlL") // 30 chars, unique → 5 windows
    ).toDF("doc_id", "text")
    val rows = Spans.stats(d, "doc_id", "text", k = 10, stride = 5)
      .orderBy("doc_id").collect()
    assert(rows(0).getAs[Long]("n_windows") == 7L &&
      rows(0).getAs[Long]("n_repeated") == 7L &&
      rows(0).getAs[Double]("repeated_frac") == 1.0, rows(0).toString)
    val d2 = rows(1)
    assert(d2.getAs[Long]("n_windows") == 10L &&
      d2.getAs[Long]("n_repeated") == 7L, d2.toString)
    assert(rows(2).getAs[Long]("n_windows") == 0L &&
      rows(2).getAs[Double]("repeated_frac") == 0.0)
    assert(rows(3).getAs[Long]("n_repeated") == 0L)
    // the filter drops both heavy docs (frac 1.0 and 0.7) at 0.6
    val kept = Spans.filterRepeatedSpans(d, "doc_id", "text",
      maxRepeatedFrac = 0.6, k = 10, stride = 5)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(3L, 4L), s"kept $kept")
  }

  test("spans: windows are codepoint-indexed (SQL substr semantics)") {
    import graft.functions.SketchExprs.charWindowHashes
    // 🙂 is one codepoint (two UTF-16 units, four UTF-8 bytes) — window
    // counts must follow the codepoint length like SQL len/substr
    val text = "🙂" * 12 // 12 codepoints
    val rows = Seq(text).toDF("text")
      .select(charWindowHashes($"text", 10, 1).as("w")).collect()
    assert(rows(0).getSeq[Long](0).length == 3, "12 cp, k=10, stride=1 → 3")
    // equal CONTENT at different positions hashes equal (zero-copy views)
    val t2 = "abcdeabcde"
    val hs = Seq(t2).toDF("text")
      .select(charWindowHashes($"text", 5, 5).as("w")).collect()(0).getSeq[Long](0)
    assert(hs.length == 2 && hs(0) == hs(1))
    // a guarded column name is loud
    intercept[IllegalArgumentException](Spans.stats(
      Seq((1L, "x")).toDF("occ", "text"), "occ", "text"))
  }

  test("spans/excise: all-but-one occurrence removed, doc rebuilt from segments") {
    // k=10, stride=5. doc1 is the keeper of the shared 40-char block
    // (lexicographically first (id, off)); doc2 = same block + unique
    // tail → the block excises from doc2, the tail survives; doc3 is
    // untouched; doc4 repeats the block INSIDE one doc at an aligned
    // offset → the second in-doc occurrence excises too.
    val block = "abcdefghijklmnopqrstuvwxyz0123456789ABCD" // 40 chars
    val tail = "-EXTRA-TAIL-PADDING-1234"
    val d = Seq(
      (1L, block),
      (2L, block + tail),
      (3L, "zZyYxXwWvVuUtTsSrRqQpPoOnNmMlL"),
      (4L, block + block) // 80 chars, second half = in-doc repeat
    ).toDF("doc_id", "text")
    val got = Spans.excise(d, "doc_id", "text", k = 10, stride = 5)
      .orderBy("doc_id").select("text").as[String].collect()
    assert(got(0) == block, "keeper doc unchanged")
    // doc2: windows 0..30 (content == doc1's) excise → merged [0,40);
    // windows at 35+ mix block-tail content, unique → survive
    assert(got(1) == tail, s"doc2 rebuilt to its unique tail: '${got(1)}'")
    assert(got(2) == "zZyYxXwWvVuUtTsSrRqQpPoOnNmMlL", "unique doc untouched")
    // doc4 (block+block): windows at offs 0..30 and 40..70 all carry
    // block content that doc1 (the keeper) owns → excise [0,40) and
    // [40,80); the once-occurring seam window [35,45) is COVERED by
    // their union, and exact adjacency coalesces them to [0,80) — the
    // whole doc is one span and rebuilds to the empty husk.
    assert(got(3) == "", s"whole-doc span rebuilds to empty: '${got(3)}'")
  }

  test("spans/excise: span at start/end, adjacency, and guards") {
    // stride=k (non-overlapping windows) — excisions hit exact k-blocks
    val blkA = "AAAAAAAAAA" // 10 chars
    val blkB = "BBBBBBBBBB"
    val mid = "-unique-middle-content-0123"
    val d = Seq(
      (1L, blkA + mid + blkB),        // keeper of A-span and B-span
      (2L, blkA + "different middle here!!!!!" + blkB), // hmm — offsets
      (3L, "no repeats at all in here")
    ).toDF("doc_id", "text")
    // doc1: A at [0,10) aligned; mid is 27 chars so B starts at 37 —
    // NOT aligned to stride 10 → doc1's B never windows at its offset.
    // Use stride 1 for exactness instead: every repeated k-substring
    // excises regardless of alignment (the Lee et al. shape).
    val got = Spans.excise(d, "doc_id", "text", k = 10, stride = 1)
      .orderBy("doc_id").collect()
    val t1 = got(0).getAs[String]("text")
    val t2 = got(1).getAs[String]("text")
    // doc1 is keeper everywhere (id 1 < 2) → unchanged
    assert(t1 == blkA + mid + blkB, s"keeper unchanged: '$t1'")
    // doc2: leading A-block (span at START) and trailing B-block (span
    // at END) excise; shared boundary chars with the unique middle stay
    assert(!t2.contains(blkA) && !t2.contains(blkB), s"spans gone: '$t2'")
    assert(t2.contains("different middle here!!!!!"), s"middle survives: '$t2'")
    assert(got(2).getAs[String]("text") == "no repeats at all in here")
    // non-text columns pass through; column-name guard is loud
    val extra = Seq((1L, "x" * 20, 9)).toDF("doc_id", "text", "meta")
    assert(Spans.excise(extra, "doc_id", "text", k = 10, stride = 5)
      .columns.toSeq == Seq("doc_id", "text", "meta"))
    intercept[IllegalArgumentException](Spans.excise(
      Seq((1L, "x")).toDF("__ivs", "text"), "__ivs", "text"))
  }

  test("spans: stride 1 catches shift-misaligned repeats that stride k/2 misses") {
    val base = "abcdefghijklmnopqrstuvwxyz0123456789ABCD"
    // 3-char prefix shifts every shared offset by 3 — not ≡ 0 mod 5
    val d = Seq((1L, base), (2L, "xy " + base)).toDF("doc_id", "text")
    val strided = Spans.stats(d, "doc_id", "text", k = 10, stride = 5)
      .filter($"doc_id" === 1L).collect()(0)
    assert(strided.getAs[Long]("n_repeated") == 0L,
      "stride 5 cannot see the misaligned repeat (documented contract)")
    val dense = Spans.stats(d, "doc_id", "text", k = 10, stride = 1)
      .filter($"doc_id" === 1L).collect()(0)
    assert(dense.getAs[Long]("n_repeated") == dense.getAs[Long]("n_windows"),
      "stride 1 must catch every repeat regardless of alignment")
  }

  test("spans/pipeline: persist knob makes the input lineage run once") {
    val acc = spark.sparkContext.longAccumulator("input-evals")
    val tick = udf { (s: String) => acc.add(1); s }
    val d = (1L to 50L).map(i => (i, s"document number $i with some words"))
      .toDF("doc_id", "t0").select($"doc_id", tick($"t0").as("text"))

    acc.reset()
    val once = Spans.stats(d, "doc_id", "text", k = 10, stride = 5,
      persist = true)
    once.count()
    assert(acc.value == 50L,
      s"persist=true: input evaluated ${acc.value} times, want 50")
    acc.reset()
    Spans.stats(d, "doc_id", "text", k = 10, stride = 5).count()
    assert(acc.value == 100L,
      s"persist=false documents the double-evaluation: got ${acc.value}")

    acc.reset()
    Curation.pipeline(d, "doc_id", "text",
      Curation.PipelineConfig(persistSurvivors = true)).count()
    assert(acc.value == 50L,
      s"persistSurvivors=true: input evaluated ${acc.value} times, want 50")
    acc.reset()
    Curation.pipeline(d, "doc_id", "text").count()
    assert(acc.value == 100L,
      s"lazy pipeline documents the double-evaluation: got ${acc.value}")

    // decontamination's two corpus reads ride the persist knob too: the
    // input still evaluates exactly once (dedup output is checkpointed
    // before the gram scan + anti-join fan-out)
    acc.reset()
    Curation.pipeline(d, "doc_id", "text",
      Curation.PipelineConfig(persistSurvivors = true,
        contaminationProbes = Some(Seq("no match here").toDF("text")))).count()
    assert(acc.value == 50L,
      s"persist + decontamination: input evaluated ${acc.value} times, want 50")
  }

  // --- Paragraphs (line-level dedup) ------------------------------------

  test("paragraphs: corpus-common lines dropped, rare and blank kept, no self-promotion") {
    val d = Seq(
      (1L, "unique one\nFOOTER\nbody a"),
      (2L, "unique two\nFOOTER"),
      (3L, "FOOTER\nunique three"),
      (4L, "self\nself\nself\nunique four"), // within-doc repeats, ONE doc
      (5L, "unique five\n\nFOOTER"),         // blank line stays
      (6L, "FOOTER"),                         // everything common → ''
      (7L, "untouched document")              // nothing to drop → byte-identical
    ).toDF("doc_id", "text")

    val freq = Paragraphs.unitDocFrequency(d, "doc_id", "text")
      .join(Seq("FOOTER", "self").toDF("u")
        .select(xxhash64($"u").as("unit_hash"), $"u"), Seq("unit_hash"))
      .collect().map(r => r.getAs[String]("u") -> r.getAs[Long]("n_docs")).toMap
    assert(freq("FOOTER") == 5L, s"distinct-doc count: $freq")
    assert(freq("self") == 1L, "within-doc repeats must count once")

    val out = Paragraphs.dropCommon(d, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "unique one\nbody a")
    assert(out(2L) == "unique two")
    assert(out(3L) == "unique three")
    assert(out(4L) == "self\nself\nself\nunique four", "no self-promotion")
    assert(out(5L) == "unique five\n", "blank lines are structure, kept")
    assert(out(6L) == "")
    assert(out(7L) == "untouched document")

    // paragraph mode: variable-width split regex, explicit joinWith
    val p = Seq(
      (1L, "keep me\n\nSHARED PARA\n\n\nalso keep"),
      (2L, "SHARED PARA\n\nown text"),
      (3L, "SHARED PARA"),
      (4L, "nothing shared here")
    ).toDF("doc_id", "text")
    val pOut = Paragraphs.dropCommon(p, "doc_id", "text", minDocs = 3,
        sep = "\\n{2,}", joinWith = "\n\n")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pOut(1L) == "keep me\n\nalso keep")
    assert(pOut(2L) == "own text")
    assert(pOut(3L) == "")
    assert(pOut(4L) == "nothing shared here")

    intercept[IllegalArgumentException](
      Paragraphs.dropCommon(d, "doc_id", "text", minDocs = 1))
  }

  // --- Boilerplate ------------------------------------------------------

  test("boilerplate: corpus-wide grams clear the bar, per-doc score is exact") {
    // "tail wagging dog" appears in 3/4 docs; every other bigram is rare
    val d = Seq(
      (1L, "alpha beta tail wagging dog"),
      (2L, "gamma tail wagging dog delta"),
      (3L, "tail wagging dog epsilon"),
      (4L, "zeta eta theta")).toDF("doc_id", "text")
    val common = Boilerplate.commonGrams(d, "text", n = 2, minDocFrac = 0.7)
      .orderBy("gram").collect()
    assert(common.map(_.getString(0)).toSeq == Seq("tail wagging", "wagging dog"))
    assert(common.forall(_.getAs[Long]("doc_freq") == 3L))
    // doc 3: grams [tail wagging, wagging dog, dog epsilon] → 2/3 boiler
    val boiler = Boilerplate.commonGrams(d, "text", 2, 0.7)
    val scores = Boilerplate.score(d, "doc_id", "text", boiler)
      .orderBy("doc_id").collect()
    assert(scores(2).getAs[Long]("boiler_grams") == 2L &&
      scores(2).getAs[Long]("total_grams") == 3L)
    assert(scores(3).getAs[Long]("boiler_grams") == 0L)
    intercept[IllegalArgumentException](
      Boilerplate.commonGrams(d, "text", 2, 0.0))
    // gram-less docs (null / single-word text) stay in the report as
    // 0/0/0.0 instead of silently vanishing
    val edge = Seq((1L, Some("hello")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val es = Boilerplate.score(edge, "doc_id", "text", boiler)
      .orderBy("doc_id").collect()
    assert(es.length == 2)
    es.foreach { r =>
      assert(r.getAs[Long]("total_grams") == 0L &&
        r.getAs[Double]("boiler_frac") == 0.0, r.toString)
    }
  }

  // --- URLs -------------------------------------------------------------

  test("urls: extraction normalizes case, strips ports/paths, keeps counts") {
    val d = Seq(
      (1L, "see https://A.Example.COM/path?q=1 and http://b.org:8080/x " +
        "and https://a.example.com again, no-scheme www.c.net ignored"),
      (2L, "no links here")).toDF("doc_id", "text")
    val rows = Urls.analyze(d, "text", Seq("a.example.com"))
      .orderBy("doc_id").collect()
    assert(rows(0).getAs[Long]("n_urls") == 3L)
    assert(rows(0).getSeq[String](rows(0).fieldIndex("domains")).sorted.toSeq ==
      Seq("a.example.com", "b.org"))
    assert(rows(0).getAs[Boolean]("is_blocked"))
    assert(rows(1).getAs[Long]("n_urls") == 0L &&
      !rows(1).getAs[Boolean]("is_blocked"))
  }

  test("urls: adversarial forms cannot bypass the blocklist") {
    // uppercase scheme, trailing punctuation, userinfo@, trailing dot —
    // each once slipped past a naive [^/\s:]+ host capture
    val d = Seq(
      (1L, "HTTPS://SPAM.example.com shouting"),
      (2L, "visit https://spam.example.com, now"),
      (3L, "https://user:pw@spam.example.com/x login form"),
      (4L, "rooted https://spam.example.com. end of sentence"),
      (5L, "https://legit-site.org is fine"),
      (6L, "subdomain https://evil.spam.example.com/p hides here"),
      (7L, "deep http://a.b.spam.example.com nesting"),
      (8L, "lookalike https://notspam.example.com must NOT match")
    ).toDF("doc_id", "text")
    val kept = Urls.filterBlocked(d, "text", Seq("spam.example.com"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(5L, 8L), s"blocklist bypassed: kept $kept")
    // the broadcast-table path applies the SAME suffix semantics
    val keptLarge = Urls.filterBlockedLarge(d, "doc_id", "text",
      Seq("spam.example.com").toDF("domain"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(keptLarge == Seq(5L, 8L), s"large path diverged: kept $keptLarge")
  }

  test("urls: small-list and broadcast-table filters agree") {
    val docs = sf("documents").select($"doc_id", $"text")
    val linked = docs.filter(pmod($"doc_id", lit(3)) === 0)
      .select($"doc_id" + 50000 as "doc_id",
        concat($"text", lit(" via https://bad.example.net/x")).as("text"))
    // the null-text row must be KEPT by both paths (it cites nothing) —
    // a naive arrays_overlap(null, ...) filter silently drops it
    val nullRow = Seq((99999L, Option.empty[String])).toDF("doc_id", "text")
    val all = docs.union(linked).union(nullRow)
    val small = Urls.filterBlocked(all, "text", Seq("bad.example.net"))
    val large = Urls.filterBlockedLarge(all, "doc_id", "text",
      Seq("bad.example.net").toDF("domain"))
    assert(small.count() == docs.count() + 1, "linked copies drop, null row stays")
    assert(small.filter($"doc_id" === 99999L).count() == 1)
    assert(small.exceptAll(large).isEmpty && large.exceptAll(small).isEmpty)
    intercept[IllegalArgumentException](Urls.filterBlocked(all, "text", Nil))
    // fixed-name output columns must not silently clobber user data
    intercept[IllegalArgumentException](
      Urls.analyze(all.withColumn("domains", lit("x")), "text"))
  }

  // --- Chunking ---------------------------------------------------------

  test("chunking: windows tile the document with the promised overlap") {
    // 100 tokens, chunk 50, overlap 10 → starts 0/40/80, lens 50/50/20
    val words = (1 to 100).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, words)).toDF("doc_id", "text")
    val rows = Chunking.chunkDocuments(d, "doc_id", "text", 50, 10)
      .orderBy("chunk_idx").collect()
    assert(rows.map(_.getAs[Long]("chunk_start")).toSeq == Seq(0L, 40L, 80L))
    assert(rows.map(_.getAs[Long]("chunk_len")).toSeq == Seq(50L, 50L, 20L))
    // consecutive chunks share exactly the overlap tokens
    val c0 = rows(0).getAs[String]("chunk_text").split(" ")
    val c1 = rows(1).getAs[String]("chunk_text").split(" ")
    assert(c0.takeRight(10).toSeq == c1.take(10).toSeq)
    // every token appears; rejoining chunk starts reconstructs the doc
    assert(c0.head == "w1" && rows(2).getAs[String]("chunk_text").endsWith("w100"))
  }

  test("chunking: short and empty docs") {
    val d = Seq((1L, "only three words"), (2L, ""), (3L, "   "))
      .toDF("doc_id", "text")
    val rows = Chunking.chunkDocuments(d, "doc_id", "text", 50, 10).collect()
    // empty/whitespace docs vanish; a short doc is one whole chunk
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("doc_id") == 1L &&
      rows(0).getAs[Long]("chunk_len") == 3L &&
      rows(0).getAs[String]("chunk_text") == "only three words")
    intercept[IllegalArgumentException] {
      Chunking.chunkDocuments(d, "doc_id", "text", 50, 50)
    }
  }

  // --- Repetition -------------------------------------------------------

  test("repetition: stats match hand-computed values") {
    // "a b a b a c" → words: total 6, distinct 3 (a×3, b×2, c×1)
    //   bigrams: [a b, b a, a b, b a, a c] → total 5, distinct 3, top 2
    val d = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val r = Repetition.stats(d, "text").collect()(0)
    assert(r.getAs[Long]("n_words") == 6L)
    assert(r.getAs[Long]("distinct_words") == 3L)
    assert(r.getAs[Double]("dup_word_frac") == 0.5)
    assert(r.getAs[Long]("total_ngrams") == 5L)
    assert(r.getAs[Long]("distinct_ngrams") == 3L)
    assert(r.getAs[Long]("top_ngram_count") == 2L)
    assert(r.getAs[Double]("dup_ngram_frac") == 0.4)
    assert(r.getAs[Double]("top_ngram_frac") == 0.4)
  }

  test("repetition: empty and sub-n docs give zeroed stats, not null/NaN") {
    val d = Seq((1L, ""), (2L, "solo"), (3L, "..!!..")).toDF("doc_id", "text")
    val rows = Repetition.stats(d, "text").orderBy("doc_id").collect()
    // "" and punctuation-only: zero words; "solo": 1 word, 0 bigrams
    assert(rows(0).getAs[Long]("n_words") == 0L)
    assert(rows(0).getAs[Double]("dup_word_frac") == 0.0)
    assert(rows(1).getAs[Long]("n_words") == 1L)
    assert(rows(1).getAs[Long]("total_ngrams") == 0L)
    assert(rows(1).getAs[Double]("dup_ngram_frac") == 0.0)
    assert(rows(1).getAs[Double]("top_ngram_frac") == 0.0)
    assert(rows(2).getAs[Long]("n_words") == 0L)
  }

  test("repetition: filter drops the spam doc, keeps prose, preserves schema") {
    val spam = "buy now " * 30 + "limited offer"
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "walks away to find a quiet place for a long afternoon nap"
    val d = Seq((1L, prose, "en"), (2L, spam, "en")).toDF("doc_id", "text", "lang")
    val kept = Repetition.filterRepetitive(d, "text")
    assert(kept.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(kept.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    // a pre-existing column with a stats name would be silently
    // overwritten — loud instead
    val e = intercept[IllegalArgumentException] {
      Repetition.stats(d.withColumn("n_words", lit(9L)), "text")
    }
    assert(e.getMessage.contains("n_words"))
  }

  test("repetition: paired expression equals the two single-n expressions") {
    import graft.functions.SketchExprs.{gramRepetition, gramRepetitionPair}
    val d = docs.select($"text")
      .union(Seq("", "solo", "a b a b a c").toDF("text"))
    val cmp = d.select(gramRepetitionPair($"text", 2).as("p"),
      gramRepetition($"text", 1).as("w"), gramRepetition($"text", 2).as("g"))
    assert(cmp.filter(
      $"p.w_total" =!= $"w.total" || $"p.w_distinct" =!= $"w.distinct" ||
      $"p.w_top" =!= $"w.top" || $"p.g_total" =!= $"g.total" ||
      $"p.g_distinct" =!= $"g.distinct" || $"p.g_top" =!= $"g.top")
      .count() == 0)
  }

  test("repetition: native stats agree with an explode/groupBy composition") {
    // the one-pass expression vs the declarative shuffle formulation it
    // replaces — same tokenizer, so identical counts on real fixtures
    val d = docs.select($"doc_id", $"text").limit(100)
    val toks = d.select($"doc_id",
      filter(split(lower($"text"), "\\W+"), t => length(t) > 0).as("tk"))
    val grams = toks.select($"doc_id", posexplode($"tk").as(Seq("p", "w")))
      .withColumn("nx", lead($"w", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id").orderBy($"p")))
      .filter($"nx".isNotNull)
      .select($"doc_id", concat_ws(" ", $"w", $"nx").as("g"))
    val ref = grams.groupBy("doc_id", "g").count()
      .groupBy("doc_id").agg(
        sum("count").as("total"), count(lit(1)).as("distinct"),
        max("count").as("top"))
    val got = Repetition.stats(d, "text")
      .select($"doc_id", $"total_ngrams", $"distinct_ngrams", $"top_ngram_count")
    val joined = got.join(ref, "doc_id").collect()
    assert(joined.length == 100)
    joined.foreach { r =>
      assert(r.getAs[Long]("total_ngrams") == r.getAs[Long]("total"), r.toString)
      assert(r.getAs[Long]("distinct_ngrams") == r.getAs[Long]("distinct"), r.toString)
      assert(r.getAs[Long]("top_ngram_count") == r.getAs[Long]("top"), r.toString)
    }
  }

  test("Dsir: weights pull toward the target distribution, resampling " +
      "is deterministic Gumbel-top-k, guards are loud") {
    val raw = docs.select($"doc_id", $"lang", $"text")
    val target = raw.filter($"lang" === "en").select($"text")
    val w = Dsir.weights(raw, target, "text", buckets = 512)
    // target-language documents must average a HIGHER importance
    // weight than any other language — the whole point of the method
    val means = w.groupBy($"lang")
      .agg(avg($"dsir_logw").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(means("en") > 0 &&
      means.filter(_._1 != "en").values.forall(_ < means("en")),
      s"en must score highest: $means")
    // micro column IS the exact integer the double reads from
    val chk = w.select($"dsir_logw_micro", $"dsir_logw").limit(50).collect()
    chk.foreach(r =>
      assert(r.getDouble(1) == r.getLong(0) / 1e9, r.toString))
    // resample: deterministic, exactly k rows, ids ⊂ corpus, seeded
    val s1 = Dsir.resample(raw, target, "doc_id", "text", k = 40,
      buckets = 512).select($"doc_id").as[Long].collect().toSeq
    val s2 = Dsir.resample(raw, target, "doc_id", "text", k = 40,
      buckets = 512).select($"doc_id").as[Long].collect().toSeq
    assert(s1 == s2 && s1.size == 40)
    val s3 = Dsir.resample(raw, target, "doc_id", "text", k = 40,
      buckets = 512, seed = 99L).select($"doc_id").as[Long].collect().toSet
    assert(s3 != s1.toSet, "seed must move the Gumbel noise")
    // the Gumbel noise perturbs but does not bury the weights: the
    // selected set's mean weight beats the corpus mean
    val sel = Dsir.resample(raw, target, "doc_id", "text", k = 40,
      buckets = 512).agg(avg($"dsir_logw")).as[Double].collect().head
    val all = w.agg(avg($"dsir_logw")).as[Double].collect().head
    assert(sel > all, s"selected mean $sel must beat corpus mean $all")
    // curation stage: dsir keeps exactly k, matches the operator, and
    // carries its own observed count; pipelineStream rejects it loudly
    val cfg = Curation.PipelineConfig(dsirTarget = Some(target),
      dsirK = 25, dsirBuckets = 512, maxDupWordFrac = 1.0,
      maxDupNgramFrac = 1.0, maxTopNgramFrac = 1.0)
    val piped = Curation.pipeline(raw.select($"doc_id", $"text"),
        "doc_id", "text", cfg)
      .select($"doc_id").as[Long].collect().toSet
    val direct = Dsir.resample(raw.select($"doc_id", $"text"), target,
        "doc_id", "text", k = 25, buckets = 512)
      .select($"doc_id").as[Long].collect().toSet
    assert(piped == direct && piped.size == 25,
      s"stage must match the operator: ${piped.size}")
    val (obsOut, counts) = Curation.pipelineObserved(
      raw.select($"doc_id", $"text"), "doc_id", "text", cfg)
    assert(obsOut.count() == 25L)
    val m = counts()
    assert(m("after_dsir") == 25L && m("kept") == 25L, s"counts: $m")
    intercept[graft.core.GraftError.Configuration](Curation.pipeline(
      raw.select($"doc_id", $"text"), "doc_id", "text",
      Curation.PipelineConfig(dsirK = 10)))
    // guards: stale columns, non-integral id, gramless target
    intercept[IllegalArgumentException](Dsir.weights(
      raw.withColumn("dsir_logw", lit(0.0)), target, "text"))
    intercept[graft.core.GraftError.Configuration](Dsir.resample(
      raw.withColumn("sid", $"doc_id".cast("string")), target,
      "sid", "text", k = 5))
    intercept[IllegalArgumentException](Dsir.weights(
      raw, Seq("").toDF("text"), "text"))
  }

  test("stripTrackingParams: three-pass canonicalization, RE2-safe edges") {
    import spark.implicits._
    def strip(t: String): String =
      Seq(t).toDF("text")
        .select(Urls.stripTrackingParams($"text").as("t"))
        .as[String].collect().head
    // leading tracked param with a real param behind it: separator heals
    assert(strip("https://a.com/p?utm_source=x&page=2") ==
      "https://a.com/p?page=2")
    // trailing tracked param after a real one
    assert(strip("https://a.com/p?page=2&fbclid=abc") ==
      "https://a.com/p?page=2")
    // ALL params tracked: query vanishes entirely
    assert(strip("https://a.com/p?gclid=1&utm_medium=email") ==
      "https://a.com/p")
    // fragment survives; value stops at '#'
    assert(strip("https://a.com/p?utm_a=1&x=2#frag") ==
      "https://a.com/p?x=2#frag")
    assert(strip("https://a.com/p?x=2&utm_a=1#frag") ==
      "https://a.com/p?x=2#frag")
    // case-insensitive names, empty values, several tracked in a row
    assert(strip("https://a.com/?UTM_SOURCE=&Fbclid=&keep=1") ==
      "https://a.com/?keep=1")
    // multiple URLs in one text, all rewritten
    assert(strip("x https://a.com/?utm_a=1 y https://b.com/?q=1&gclid=2 z") ==
      "x https://a.com/ y https://b.com/?q=1 z")
    // non-tracking params and bare prose untouched
    val plain = "utm_source is a parameter name, and a?b is a question"
    assert(strip(plain) == plain)
    assert(strip("https://a.com/p?query=utm_source") ==
      "https://a.com/p?query=utm_source")
    // lookalike names do NOT match (utmx, xfbclid)
    assert(strip("https://a.com/p?utmx=1&xfbclid=2") ==
      "https://a.com/p?utmx=1&xfbclid=2")
    // frame op: pure projection, row count preserved
    val df = Seq((1L, "https://a.com/?utm_a=1"), (2L, "no urls"))
      .toDF("doc_id", "text")
    val out = Urls.canonicalizeUrls(df, "text").orderBy("doc_id")
      .as[(Long, String)].collect()
    assert(out.toSeq == Seq((1L, "https://a.com/"), (2L, "no urls")))
    intercept[IllegalArgumentException](
      Urls.stripTrackingParams($"text", Nil))
    // curation stage: strip_tracking_params rides the batch pipeline
    // BEFORE the HTML strip (params live in hrefs), so two
    // campaign-shared copies of one page exact-dedup together
    val docs = Seq(
      (1L, "<a href='https://a.com/art?utm_source=tw'>x</a> body words"),
      (2L, "<a href='https://a.com/art?utm_source=nl'>x</a> body words"))
      .toDF("doc_id", "text")
    val kept = graft.llm.Curation.pipeline(docs, "doc_id", "text",
      graft.llm.Curation.PipelineConfig(
        stripTrackingParams = true, stripHtml = true,
        maxDupWordFrac = 1.0, maxDupNgramFrac = 1.0, maxTopNgramFrac = 1.0))
    assert(kept.count() == 1, "canonicalized copies must dedup to one")
  }
}
