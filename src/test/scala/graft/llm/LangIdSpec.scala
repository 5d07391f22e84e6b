package graft.llm

import graft.SparkSpec

class LangIdSpec extends SparkSpec {
  import spark.implicits._

  // two synthetic "languages" with disjoint character texture — the
  // vowel-heavy one vs the consonant-cluster one; short docs on
  // purpose (the char-n-gram motivation: word features go blind here)
  private val seed = Seq(
    (1L, "aloha naia olua iana", "aa"),
    (2L, "eono aia noa ele iao", "aa"),
    (3L, "strv zprk vlk smrt", "kk"),
    (4L, "krk brzg tvrz schl", "kk")
  ).toDF("id", "text", "lang")

  test("charNgrams: positions, case folding, short-text edges") {
    def grams(s: String): Seq[String] =
      Seq(s).toDF("t").select(LangId.charNgrams($"t").as("g"))
        .as[Seq[String]].collect()(0)
    assert(grams("abc") == Seq("ab", "bc", "abc"))
    assert(grams("Ab") == Seq("ab")) // lowercased, no 3-gram
    assert(grams("x") == Seq.empty && grams("") == Seq.empty)
    // spaces are kept — boundary grams carry signal
    assert(grams("a b") == Seq("a ", " b", "a b"))
    intercept[IllegalArgumentException](
      Seq("x").toDF("t").select(LangId.charNgrams($"t", Seq(0))))
  }

  test("train + scoreAll: texture separates; per-row plan, no shuffle") {
    val (model, stats) = LangId.train(seed, "text", "lang")
    val docs = Seq(
      (10L, "iaole naoa elua"),   // vowel texture → aa
      (11L, "vlkr zprt msch"),    // cluster texture → kk
      (12L, "")                    // gram-less: prior-only, tie → 'aa'
    ).toDF("doc_id", "text")
    val out = LangId.scoreAll(docs, "doc_id", "text", model, stats)
    assert(out.columns.toSeq ==
      Seq("doc_id", "n_grams", "score_aa", "score_kk", "lang_id"))
    val rows = out.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getString(4)))).toMap
    assert(rows(10L)._2 == "aa" && rows(11L)._2 == "kk")
    assert(rows(12L) == ((0L, "aa"))) // equal priors, tie to first asc
    // scoring must be pure per-row projection over the scan: no
    // exchange anywhere in the scoring plan (the 100 TB + streaming
    // contract of the literal-map design)
    val plan = LangId.scoreAll(docs, "doc_id", "text", model, stats)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"lang-id scoring must not shuffle:\n$plan")
  }

  test("label appends one column; filterByLang keeps allow set, " +
      "rejects unknown labels") {
    val (model, stats) = LangId.train(seed, "text", "lang")
    val docs = Seq((20L, "aloha iana oe"), (21L, "krz vlts schw"))
      .toDF("doc_id", "text")
    val labeled = LangId.label(docs, "text", model, stats)
    assert(labeled.columns.toSeq == Seq("doc_id", "text", "lang_id"))
    assert(labeled.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      == Map(20L -> "aa", 21L -> "kk"))
    val kept = LangId.filterByLang(docs, "text", model, stats, Seq("kk"))
    assert(kept.columns.toSeq == Seq("doc_id", "text"))
    assert(kept.collect().map(_.getLong(0)).toSeq == Seq(21L))
    val ex = intercept[graft.core.GraftError.Configuration](
      LangId.filterByLang(docs, "text", model, stats, Seq("xx")))
    assert(ex.getMessage.contains("xx") && ex.getMessage.contains("aa"))
    intercept[IllegalArgumentException](
      LangId.filterByLang(docs, "text", model, stats, Nil))
  }

  test("curation stage: batch pipeline filters by predicted language") {
    val (model, stats) = LangId.train(seed, "text", "lang")
    val corpus = Seq(
      (1L, "aloha naia elua oia"), (2L, "eiao luna oana iae"),
      (3L, "zprk vlts schwz krt"), (4L, "brzg mstk vrch pltz"))
      .toDF("doc_id", "text")
    val cfg = Curation.PipelineConfig(
      langId = Some((model, stats, Seq("aa"))),
      maxDupWordFrac = 0.9, maxDupNgramFrac = 0.9, maxTopNgramFrac = 0.9)
    val kept = Curation.pipeline(corpus, "doc_id", "text", cfg)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L))
  }

  test("curation stage streams: per-row lang-id, batch/stream parity") {
    val (model, stats) = LangId.train(seed, "text", "lang")
    val scratch = tmpDir("langid_stream")
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val rows = Seq(
      (1L, "aloha naia elua oia", ts0), (2L, "eiao luna oana iae", ts0),
      (3L, "zprk vlts schwz krt", ts0), (4L, "brzg mstk vrch pltz", ts0))
    rows.toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("overwrite").parquet(scratch)
    val cfg = Curation.PipelineConfig(
      langId = Some((model, stats, Seq("kk"))),
      maxDupWordFrac = 0.9, maxDupNgramFrac = 0.9, maxTopNgramFrac = 0.9)
    val in = spark.readStream
      .schema(spark.read.parquet(scratch).schema).parquet(scratch)
    val q = Curation.pipelineStream(in, "doc_id", "text", "ts", cfg = cfg)
      .writeStream.format("memory").queryName("langid_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000L)
    val streamed = spark.table("langid_stream")
      .select($"doc_id").as[Long].collect().toSet
    val batch = Curation.pipeline(
        spark.read.parquet(scratch).select($"doc_id", $"text"),
        "doc_id", "text", cfg)
      .select($"doc_id").as[Long].collect().toSet
    assert(streamed == Set(3L, 4L) && streamed == batch)
  }

  test("non-default n-gram sizes thread train → score (r11 advice): " +
      "a ns=Seq(1,2) model scores with 1-2-gram windows") {
    import spark.implicits._
    // vowel vs consonant classes: 1-grams alone separate them, so a
    // correctly-threaded ns=Seq(1) scorer classifies the held-out
    // rows; the pre-fix behavior (scoring with the default 2-3 grams
    // against a 1-gram-only vocab) collapses EVERY gram to the OOV
    // floor and the prediction degenerates to one shared label
    val seed = Seq.tabulate(40) { i =>
      if (i % 2 == 0) (s"aeiou aeaeio uoiea e$i", "vow")
      else (s"bcdfg bcbcdf gfdcb b$i", "con")
    }.toDF("text", "lang")
    val ns = Seq(1)
    val (model, stats) = LangId.train(seed, "text", "lang",
      vocabSize = 60, ns = ns)
    val probe = Seq((1L, "aeiou eaio aie"), (2L, "bcdfg fgbcd dgb"))
      .toDF("id", "text")
    val scored = LangId.scoreAll(probe, "id", "text", model, stats,
      ns = ns).orderBy("id").collect()
    assert(scored(0).getAs[String]("lang_id") == "vow")
    assert(scored(1).getAs[String]("lang_id") == "con")
    // n_grams arithmetic follows ns: len 14 → 14 1-grams
    assert(scored(0).getAs[Long]("n_grams") == 14L)
    // label and filterByLang thread ns identically
    val labeled = LangId.label(probe, "text", model, stats, ns = ns)
      .orderBy("id").collect()
    assert(labeled(0).getAs[String]("lang_id") == "vow" &&
      labeled(1).getAs[String]("lang_id") == "con")
    assert(LangId.filterByLang(probe, "text", model, stats,
      allow = Seq("vow"), ns = ns).collect().map(_.getLong(0)).toSeq ==
      Seq(1L))
    // and the DEFAULT-ns path against this 1-2-gram model demonstrates
    // the failure mode the fix closes: both probes collapse to the
    // same prior-driven label (no separation)
    val wrong = LangId.scoreAll(probe, "id", "text", model, stats)
      .orderBy("id").collect()
    assert(wrong(0).getAs[String]("lang_id") ==
      wrong(1).getAs[String]("lang_id"),
      "mismatched ns must degenerate — if this separates, the test " +
        "fixture stopped demonstrating the failure mode")
  }

  test("yaml: lang_id sub-map parses, typos and missing keys are loud") {
    import graft.engine.YamlJob
    def yaml(body: String) =
      s"""source: {uri: "/tmp/in.parquet"}
         |target: {uri: "/tmp/out.parquet"}
         |curation:
         |  id_column: doc_id
         |  text_column: text
         |$body""".stripMargin
    val run = YamlJob.loadYaml(yaml(
      """  lang_id:
        |    seed: /tmp/seed.parquet
        |    allow: [en, de]
        |    vocab_size: 500""".stripMargin))
    val li = run.curation.get.langId.get
    assert(li == YamlJob.LangIdSpec("/tmp/seed.parquet", Seq("en", "de"),
      "text", "lang", 500))
    val e1 = intercept[graft.core.GraftError.Configuration](
      YamlJob.loadYaml(yaml("  lang_id:\n    seed: /tmp/s\n    alow: [en]")))
    assert(e1.getMessage.contains("alow"))
    val e2 = intercept[graft.core.GraftError.Configuration](
      YamlJob.loadYaml(yaml("  lang_id:\n    seed: /tmp/s")))
    assert(e2.getMessage.contains("allow"))
    val e3 = intercept[graft.core.GraftError.Configuration](
      YamlJob.loadYaml(yaml("  lang_id:\n    allow: [en]")))
    assert(e3.getMessage.contains("seed"))
  }
}
