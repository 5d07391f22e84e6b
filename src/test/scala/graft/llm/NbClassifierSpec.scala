package graft.llm

import graft.SparkSpec
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

class NbClassifierSpec extends SparkSpec {
  import spark.implicits._

  private val labeled = Seq(
    (1L, "buy buy now", "spam"),
    (2L, "buy pills", "spam"),
    (3L, "hello world", "ham"),
    (4L, "hello friend", "ham")
  ).toDF("id", "text", "label")

  test("train: smoothed likelihoods, doc priors, hand-checked scores") {
    val (model, stats) = NbClassifier.train(labeled, "text", "label")
    // vocab = 6 words; spam tokc=5, ham tokc=4; denom = tokc + (6+1)
    val m = model.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(math.abs(m(("buy", "spam")) - math.log(4.0 / 12.0)) < 1e-12)
    assert(math.abs(m(("hello", "ham")) - math.log(3.0 / 11.0)) < 1e-12)
    assert(!m.contains(("hello", "spam"))) // absent pairs ride the floor
    val st = stats.collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(math.abs(st("spam")._1 - math.log(0.5)) < 1e-12)
    assert(math.abs(st("spam")._2 - math.log(1.0 / 12.0)) < 1e-12)
    assert(math.abs(st("ham")._2 - math.log(1.0 / 11.0)) < 1e-12)

    val docs = Seq((10L, "buy now"), (11L, "hello zzz"), (12L, ""))
      .toDF("doc", "text")
    val r = NbClassifier.score(docs, "doc", "text", model, stats)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getDouble(2), x.getDouble(3), x.getString(4))))
      .toMap
    // columns: doc, n_tokens, score_ham, score_spam (labels asc), predicted
    val (nt10, ham10, spam10, p10) = r(10L)
    assert(nt10 == 2L && p10 == "spam")
    assert(math.abs(spam10 -
      round6(math.log(0.5) + math.log(4.0 / 12.0) + math.log(2.0 / 12.0)))
      < 1e-9)
    assert(math.abs(ham10 -
      round6(math.log(0.5) + 2 * math.log(1.0 / 11.0))) < 1e-9)
    assert(r(11L)._4 == "ham") // one vocab hit for ham beats two floors
    // token-less doc: prior-only scores, tie broken to the asc-first
    // label, zero tokens
    val (nt12, ham12, spam12, p12) = r(12L)
    assert(nt12 == 0L && p12 == "ham")
    assert(math.abs(ham12 - round6(math.log(0.5))) < 1e-9 &&
      ham12 == spam12)
  }

  private def round6(d: Double): Double = math.rint(d * 1e6) / 1e6

  test("vocabSize cut is deterministic; smoothing and misuse guards") {
    // vocabSize=1 keeps only "buy" (count 3); everything else is OOV
    val (model, stats) = NbClassifier.train(labeled, "text", "label",
      vocabSize = 1)
    assert(model.collect().map(_.getString(0)).distinct.toSeq == Seq("buy"))
    // spam: tokc=3, denom=3+2=5; ham: tokc=0 (no stats row dropped)
    val st = stats.collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(st.keySet == Set("ham", "spam"))
    assert(math.abs(st("spam") - math.log(1.0 / 5.0)) < 1e-12)
    assert(math.abs(st("ham") - math.log(1.0 / 2.0)) < 1e-12)
    intercept[IllegalArgumentException](
      NbClassifier.train(labeled, "text", "label", vocabSize = 0))
    intercept[IllegalArgumentException](
      NbClassifier.train(labeled, "text", "label", smoothing = 0.0))
    intercept[IllegalArgumentException](
      NbClassifier.score(labeled.withColumnRenamed("id", "word"), "word",
        "text", model, stats))
    intercept[IllegalArgumentException](
      NbClassifier.score(labeled, "id", "text", model,
        stats.where(lit(false))))
  }

  test("null labels are excluded from training, not a class") {
    val withNull = labeled.union(
      Seq((5L, "buy buy buy", null.asInstanceOf[String]))
        .toDF("id", "text", "label"))
    val (_, stats) = NbClassifier.train(withNull, "text", "label")
    assert(stats.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("ham", "spam"))
  }

  test("language id on the synthetic corpus: beats chance and majority") {
    // the synthetic corpus draws every "language" from ONE shared
    // 31-word vocabulary — the langs differ only in word distribution,
    // so the ceiling is far below a real lang-id task. The classifier
    // must still clearly beat both chance (5 classes → 0.2) and the
    // majority-class baseline (~0.39 'en' on the train split)
    val docs = sf("documents")
    val seed = docs.where(pmod(col("doc_id"), lit(3)) === 0)
    val (model, stats) = NbClassifier.train(seed, "text", "lang",
      vocabSize = 200)
    val scored = NbClassifier.score(seed, "doc_id", "text", model, stats)
    val acc = scored.join(seed.select(col("doc_id"), col("lang")), "doc_id")
      .select(avg(when(col("predicted") === col("lang"), 1.0)
        .otherwise(0.0)).as("acc")).head.getDouble(0)
    assert(acc > 0.45, s"train-split accuracy $acc")
  }

  /** The in-plan trainer the driver-side finish replaced, kept as the
    * differential oracle: vocab count, semi-join, window total and
    * `log` evaluated by Spark. */
  private def oracleTrain(df: DataFrame, textCol: String, labelCol: String,
      vocabSize: Int, smoothing: Double,
      tokenizer: Column => Column): (DataFrame, DataFrame) = {
    val labeled = df.where(col(labelCol).isNotNull)
    val toks = labeled.select(col(labelCol).as("label"),
      explode(tokenizer(col(textCol))).as("word"))
    val vocab = toks.groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(vocabSize)
      .select("word")
    val vCount = vocab.count()
    val classCnt = toks
      .join(broadcast(vocab), Seq("word"), "left_semi")
      .groupBy("label", "word").agg(count(lit(1)).as("cnt"))
    val denom = col("tokc") + lit(smoothing) * lit(vCount.toDouble + 1.0)
    val tokc = classCnt.groupBy("label").agg(sum("cnt").as("tokc"))
    val docs = labeled.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("ndocs"))
    val stats = docs.join(tokc, Seq("label"), "left")
      .withColumn("tokc", coalesce(col("tokc"), lit(0L)).cast("double"))
      .withColumn("__tot",
        sum("ndocs").over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))))
      .select(col("label"),
        log(col("ndocs").cast("double") / col("__tot").cast("double"))
          .as("log_prior"),
        log(lit(smoothing) / denom).as("oov_log_lik"))
    val model = classCnt
      .join(stats.select(col("label"), col("oov_log_lik")), Seq("label"))
      .join(tokc, Seq("label"))
      .select(col("word"), col("label"),
        log((col("cnt") + lit(smoothing)) /
          (col("tokc").cast("double") +
            lit(smoothing) * lit(vCount.toDouble + 1.0))).as("log_lik"))
    (model, stats)
  }

  /** Rows keyed by their string cells, doubles as raw bits. */
  private def bits(df: DataFrame): Map[Seq[String], Seq[Long]] =
    df.collect().map { r =>
      val (d, k) = r.toSeq.partition(_.isInstanceOf[Double])
      k.map(String.valueOf) ->
        d.map(x => java.lang.Double.doubleToRawLongBits(x.asInstanceOf[Double]))
    }.toMap

  // aa/bb share the head words; zz's docs hold only the two
  // alphabetically-last singletons; the null-labeled row would move
  // "alpha" if it were trained on
  private val fixture = Seq(
    ("alpha beta gamma", "aa"), ("alpha beta delta", "aa"),
    ("alpha epsilon zeta", "bb"), ("eta theta", "bb"),
    ("zzzq zzzr", "zz"), ("alpha alpha alpha omega", null)
  ).toDF("text", "label")

  test("driver-side finish is bit-identical to the in-plan trainer: " +
      "word and char-gram tokenizers, vocab cuts, smoothings") {
    val words: Column => Column = Contamination.tokens
    val grams: Column => Column = LangId.charNgrams(_)
    // the word cut at 7 falls inside the count-1 tie (rank 7 "theta",
    // rank 8 "zeta"), so only the word-asc tie-break decides it
    val wordCounts = fixture.where($"label".isNotNull)
      .select(explode(words($"text")).as("w")).groupBy("w").count()
      .orderBy($"count".desc, $"w").as[(String, Long)].collect()
    assert(wordCounts(6) == (("theta", 1L)) && wordCounts(7)._2 == 1L)
    val documents = sf("documents").select(
      $"text", when(pmod($"doc_id", lit(3)) === 0, $"lang").as("label"))
    def distinct(d: DataFrame, tok: Column => Column) =
      d.where($"label".isNotNull).select(explode(tok($"text"))).distinct()
        .count().toInt
    val cases =
      (for {
        (name, tok) <- Seq("words" -> words, "grams" -> grams)
        vocab <- Seq(1, 7, 2000, distinct(fixture, tok) + 1)
        smoothing <- Seq(0.01, 0.5, 1.0)
      } yield (s"fixture/$name", fixture, tok, vocab, smoothing)) ++
      Seq(("documents/words", documents, words, 2000, 1.0),
        ("documents/grams", documents, grams, 7, 0.5),
        ("documents/grams", documents, grams,
          distinct(documents, grams) + 1, 0.01))
    for ((name, d, tok, vocab, smoothing) <- cases) {
      val (m0, s0) = oracleTrain(d, "text", "label", vocab, smoothing, tok)
      val (m1, s1) = NbClassifier.train(d, "text", "label", vocab,
        smoothing, tok)
      val at = s"$name vocab=$vocab smoothing=$smoothing"
      assert(m1.schema == m0.schema && s1.schema == s0.schema, at)
      assert(bits(m1) == bits(m0), s"model: $at")
      assert(bits(s1) == bits(s0), s"stats: $at")
    }
    // zz's tokens miss every cut but the full one: it keeps its stats
    // row with tokc = 0 and has no model rows
    val (model, stats) = NbClassifier.train(fixture, "text", "label", 7)
    assert(!model.collect().exists(_.getString(1) == "zz"))
    val zz = stats.collect().find(_.getString(0) == "zz").get
    assert(zz.getDouble(2) == StrictMath.log(1.0 / (0.0 + 8.0)))
  }

  test("LangId.train is two SQL actions; its frames and the lang_id " +
      "stage's model compile collect without a Spark job") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => actions.incrementAndGet()
        case _ =>
      }
    }
    def observe[A](body: => A): (A, Int, Int) = {
      ListenerDrain.drain(sc)
      jobs.set(0); actions.set(0)
      val a = body
      ListenerDrain.drain(sc)
      (a, actions.get, jobs.get)
    }
    sc.addSparkListener(listener)
    try {
      val docs = sf("documents")
      val seed = docs.where(pmod($"doc_id", lit(3)) === 0)
      val ((model, stats), trainActions, _) =
        observe(LangId.train(seed, "text", "lang", vocabSize = 300))
      assert(trainActions <= 2, s"$trainActions SQL actions")
      val (_, _, collectJobs) = observe {
        model.collect(); stats.collect()
        LangId.filterByLang(docs, "text", model, stats, Seq("en"))
      }
      assert(collectJobs == 0, s"$collectJobs Spark jobs")
    } finally sc.removeSparkListener(listener)
  }
}
