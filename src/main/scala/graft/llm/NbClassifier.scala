package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Multinomial Naive Bayes text classifier — the trainable half of the
  * classifier-based curation step (GPT-3's LR quality filter, CCNet's
  * fastText language filter): train on a labeled seed, score the whole
  * corpus, keep/route documents by predicted class. Unlike the unigram/
  * bigram LM scorers (corpus-relative likelihood), this is a
  * DISCRIMINATIVE signal: per-class token likelihoods + document
  * priors, argmax over classes.
  *
  * Model: P(w|c) = (cnt(w,c) + α) / (tok(c) + α·(|V|+1)) over the
  * top-`vocabSize` corpus vocabulary (deterministic count-desc/word-asc
  * cut), with the +1 pseudo-word absorbing out-of-vocabulary mass —
  * an unseen-in-class vocab word and a true OOV token get the same
  * smoothed floor, so the scorer needs no per-word special cases.
  * Priors are document-frequency: P(c) = docs(c) / docs.
  *
  * Scale shape: training is two bounded actions over the labeled
  * seed and a driver-side finish. One collects the per-class document
  * counts (|classes| rows). One aggregate keyed by token carries the
  * token's total count and its count in each class (keys only: text
  * never rides a shuffle); the deterministic TakeOrdered vocabulary
  * cut of that aggregate is collected (vocabSize rows at most). The
  * driver then computes the denominators, priors, OOV floors and
  * likelihoods and returns the model and the class stats as LOCAL
  * frames: (vocab × classes) rows, bounded by construction, so they
  * stay BROADCASTABLE and a collect of either starts no Spark job.
  * Scoring pivots the model wide — ONE likelihood
  * column per class, one row per vocab word — so each corpus token
  * joins the broadcast once (no ×classes row blowup) and a single
  * groupBy(id) sums per-class scores. Class count is assumed small
  * (the pivot and the collected stats are both |classes|-bounded). */
object NbClassifier {

  /** Same tokenizer as the whole text family: lowercase, `\W+` split,
    * empties dropped. */
  private def tokens(text: Column) = Contamination.tokens(text)

  private def colQ(c: String): Column =
    col("`" + c.replace("`", "``") + "`")

  /** Train on rows with a non-null label. Returns
    * `(model, classStats)`:
    * model = `(word, label, log_lik)` for every (vocab word, class)
    * pair OBSERVED in that class — absent pairs score the class's
    * `oov_log_lik` floor, which equals the smoothed-zero likelihood;
    * classStats = `(label, log_prior, oov_log_lik)`, one row per
    * class. Deterministic on any cluster: the vocabulary cut is a
    * total order (count desc, word asc). `tokenizer` swaps the
    * feature extractor (default: the family's lowercase `\W+` word
    * split; [[LangId]] passes char n-grams). */
  def train(df: DataFrame, textCol: String, labelCol: String,
            vocabSize: Int = 5000,
            smoothing: Double = 1.0,
            tokenizer: Column => Column = tokens): (DataFrame, DataFrame) = {
    require(vocabSize >= 1, s"vocabSize must be >= 1: $vocabSize")
    require(smoothing > 0.0, s"smoothing must be > 0: $smoothing")
    val spark = df.sparkSession
    val labeled = df.where(colQ(labelCol).isNotNull)
    val toks = labeled.select(colQ(labelCol).as("label"),
      explode(tokenizer(colQ(textCol))).as("word"))
    // action 1: (label, ndocs), |classes| rows
    val docs = labeled.groupBy(colQ(labelCol).as("label"))
      .agg(count(lit(1)).as("ndocs")).collect()
      .map(r => (r.get(0), r.getLong(1)))
    // action 2: the vocabulary cut — a total order (count desc, word
    // asc) — with each word's count in every class, <= vocabSize rows
    val perClass = docs.indices.map(i =>
      count_if(col("label") === lit(docs(i)._1)).as(s"__c$i"))
    val vocab = toks.groupBy("word")
      .agg(count(lit(1)).as("cnt"), perClass: _*)
      .orderBy(col("cnt").desc, col("word")).limit(vocabSize)
      .collect()
    // driver finish, in the operand order and the StrictMath.log of
    // Spark's `log`, so the values are those an in-plan finish gives.
    // A null token counts toward |V| but matches no class.
    val denomPad = smoothing * (vocab.length.toDouble + 1.0)
    val words = vocab.filterNot(_.isNullAt(0))
    // classes whose docs contain zero vocab tokens still get stats
    // rows (tokc = 0) — their scores degrade to prior + OOV floors
    val tokc = docs.indices.map(i => words.map(_.getLong(2 + i)).sum)
    val total = docs.map(_._2).sum.toDouble
    val statsRows = docs.indices.map { i =>
      Row(docs(i)._1, StrictMath.log(docs(i)._2.toDouble / total),
        StrictMath.log(smoothing / (tokc(i).toDouble + denomPad)))
    }
    val modelRows = for {
      r <- words.toSeq
      i <- docs.indices
      cnt = r.getLong(2 + i) if cnt > 0
    } yield Row(r.get(0), docs(i)._1, StrictMath.log(
      (cnt.toDouble + smoothing) / (tokc(i).toDouble + denomPad)))
    val label = toks.schema("label")
    val model = spark.createDataFrame(modelRows.asJava, StructType(Seq(
      toks.schema("word"), label, StructField("log_lik", DoubleType))))
    val stats = spark.createDataFrame(statsRows.asJava, StructType(Seq(
      label, StructField("log_prior", DoubleType),
      StructField("oov_log_lik", DoubleType))))
    (model, stats)
  }

  /** Score every document: `score_<label>` = log_prior + Σ per-token
    * log-likelihood (vocab hit → trained value, miss → the class's
    * OOV floor), `predicted` = argmax with ties to the
    * alphabetically-first class. Token-less documents score prior-only
    * and predict the max-prior class. One corpus pass: exploded tokens
    * left-join the BROADCAST wide model, one groupBy(id). */
  def score(df: DataFrame, idCol: String, textCol: String,
            model: DataFrame, classStats: DataFrame,
            roundTo: Int = 6): DataFrame = {
    Guards.requireFreshColumns(df, Seq("word", "n_tokens", "predicted"),
      "NbClassifier.score")
    // |classes| rows — bounded by the classifier's contract
    val st = classStats.select("label", "log_prior", "oov_log_lik")
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(st.nonEmpty, "classStats is empty — train() saw no labels")
    val labels = st.map(_._1).toSeq
    val wide = model.groupBy("word")
      .pivot("label", labels).agg(first("log_lik"))
    val tok = df.select(colQ(idCol),
        explode_outer(tokens(colQ(textCol))).as("word"))
      .join(broadcast(wide), Seq("word"), "left")
    val sumAggs = st.map { case (l, _, oov) =>
      sum(when(col("word").isNotNull, coalesce(colQ(l), lit(oov))))
        .as(s"__s_$l")
    }.toSeq
    val aggs = count(col("word")).as("n_tokens") +: sumAggs
    val scored = tok.groupBy(colQ(idCol)).agg(aggs.head, aggs.tail: _*)
    // full (unrounded) scores drive the argmax so both engines break
    // near-ties identically; ties prefer the earlier (asc) label
    val full = st.map { case (l, prior, _) =>
      l -> (lit(prior) + coalesce(col(s"__s_$l"), lit(0.0)))
    }
    val predicted = full.tail.foldLeft(
      (full.head._2, lit(full.head._1).as("p"))) {
      case ((bestS, bestL), (l, s)) =>
        (when(s > bestS, s).otherwise(bestS),
          when(s > bestS, lit(l)).otherwise(bestL))
    }._2
    val scoreCols = full.map { case (l, s) =>
      round(s, roundTo).as(s"score_$l")
    }.toSeq
    scored.select(colQ(idCol) +: col("n_tokens") +: scoreCols :+
      predicted.as("predicted"): _*)
  }
}
