package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Character-n-gram language identification — the fastText/CCNet
  * signal, built from this engine's own pieces: [[NbClassifier]]'s
  * multinomial NB trained over char 2-3-grams instead of words. Word
  * features (stopword ratios, script profiles) are weak on SHORT or
  * informal documents — a 6-word tweet may contain no stopword at all —
  * while character n-grams ("th", "sch", "ción") carry the
  * language signal at any length; this is why fastText's lang-id model
  * ships char-n-gram features.
  *
  * Training reuses [[NbClassifier.train]] verbatim (distributed gram
  * counting, deterministic vocab cut, smoothed likelihoods) with the
  * tokenizer swapped to [[charNgrams]].
  *
  * Scoring is deliberately NOT the explode+groupBy shape: the trained
  * model is BOUNDED by construction (vocabSize × |classes| rows), so
  * it compiles into a native one-pass expression
  * ([[graft.functions.LangScoreExprs.LangNbScores]] — codegen'd,
  * HashMap-backed, one gram materialization per position) and each
  * document scores in a pure PER-ROW projection. That buys two things
  * at 100 TB: no shuffle at all on the scoring pass (the explode
  * shape shuffles one row per token for the groupBy), and structural
  * batch/stream parity — the same Column works in a streaming
  * micro-batch, which is what lets the curation pipeline's `lang_id:`
  * stage run in `mode: stream` unchanged.
  *
  * Determinism: gram arrays are generated in document order and
  * `aggregate` folds sequentially, so per-document scores are one fixed
  * double sequence; the argmax runs on unrounded scores with ties to
  * the alphabetically-first label (same contract as NbClassifier). */
object LangId {

  /** Lowercased character n-grams for each n (default 2 and 3),
    * concatenated in ascending-n order, each n's grams in document
    * order. Text shorter than n contributes no n-grams. Spaces are
    * kept — " t" vs "t " is real boundary signal, exactly as fastText
    * keeps it. Native one-pass expression: the transform+substr
    * Column spelling re-walks the codepoint-addressed string per
    * window — O(len²) per document, which dominated training. */
  def charNgrams(text: Column, ns: Seq[Int] = Seq(2, 3)): Column = {
    require(ns.nonEmpty && ns.forall(_ >= 1),
      s"charNgrams needs n >= 1: $ns")
    graft.functions.LangScoreExprs.lang_char_ngrams(text, ns)
  }

  /** [[NbClassifier.train]] over char n-grams. Model frames have the
    * same contract: (word=gram, label, log_lik) + (label, log_prior,
    * oov_log_lik) — LOCAL frames (vocabSize × |classes| rows), so
    * every consumer — [[scoreAll]]'s compile collect, the curation
    * stage's label check, a second scoring pass — reads them without
    * a Spark job and never re-runs the corpus-scale training. */
  def train(df: DataFrame, textCol: String, labelCol: String,
            vocabSize: Int = 2000, smoothing: Double = 1.0,
            ns: Seq[Int] = Seq(2, 3)): (DataFrame, DataFrame) =
    NbClassifier.train(df, textCol, labelCol, vocabSize, smoothing,
      tokenizer = charNgrams(_, ns))

  /** Compile the bounded model to driver-side arrays for the native
    * scorer: (labels asc, priors, oov floors, gram → per-class
    * likelihood vector). One bounded driver collect — vocabSize ×
    * |classes| rows, the documented model-table family. Absent
    * (gram, class) pairs take the class's OOV floor inside the
    * vector, so a vocab HIT costs |classes| adds and a MISS costs the
    * same via the shared floor array. */
  private def compile(model: DataFrame, classStats: DataFrame)
      : (Seq[String], Array[Double], Array[Double],
         Seq[(String, Array[Double])]) = {
    val st = classStats.select("label", "log_prior", "oov_log_lik")
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(st.nonEmpty, "classStats is empty — train() saw no labels")
    val labels = st.map(_._1).toSeq
    val idx = labels.zipWithIndex.toMap
    val oov = st.map(_._3)
    val vectors = new scala.collection.mutable.HashMap[String, Array[Double]]
    model.select("word", "label", "log_lik").collect().foreach { r =>
      val v = vectors.getOrElseUpdate(r.getString(0), oov.clone())
      v(idx(r.getString(1))) = r.getDouble(2)
    }
    (labels, st.map(_._2), oov, vectors.toSeq.sortBy(_._1))
  }

  /** Argmax over ALREADY-MATERIALIZED score columns, ties to the
    * first label (labels must be ascending — train/scoreExprs emit
    * them sorted). */
  private def argmax(labeled: Seq[(String, Column)]): Column =
    labeled.tail.foldLeft((labeled.head._2, lit(labeled.head._1))) {
      case ((bestS, bestL), (l, s)) =>
        (when(s > bestS, s).otherwise(bestS),
          when(s > bestS, lit(l)).otherwise(bestL))
    }._2

  /** Internal: (df + __lang_sv/__lang_s_<label> columns, labels).
    * Scoring is ONE native one-pass expression per row
    * ([[graft.functions.LangScoreExprs.LangNbScores]] — O(1) HashMap
    * probes; the literal-map Column spelling's element_at is a linear
    * scan that measured 12s where this runs sub-second), bound to a
    * real column before the argmax so the when-fold never duplicates
    * the scorer (the 2^|classes| blowup documented below). */
  private def scored(df: DataFrame, textCol: String, model: DataFrame,
                     classStats: DataFrame,
                     ns: Seq[Int]): (DataFrame, Seq[String]) = {
    Guards.requireFreshColumns(df, Seq("__lang_sv"), "LangId")
    val (labels, priors, oov, likFlat) = compile(model, classStats)
    val withVec = df.withColumn("__lang_sv",
      graft.functions.LangScoreExprs.lang_nb_scores(
        col(textCol), labels, priors, oov, likFlat, ns))
    val bound = labels.zipWithIndex.foldLeft(withVec) {
      case (d, (l, i)) =>
        d.withColumn(s"__lang_s_$l", element_at(col("__lang_sv"), i + 1))
    }
    (bound, labels)
  }

  /** Gate/report surface: id + n_grams + per-class rounded scores +
    * `lang_id` (argmax, unrounded, ties to first label asc). Pure
    * per-row projections — no shuffle, streams unchanged. `ns` must
    * match the value passed to [[train]] — scoring with a different
    * gram set than the model's vocab collapses every gram to the OOV
    * floor. */
  def scoreAll(df: DataFrame, idCol: String, textCol: String,
               model: DataFrame, classStats: DataFrame,
               roundTo: Int = 6, ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    val (bound, labels) = scored(df, textCol, model, classStats, ns)
    val scoreCols = labels.map(l =>
      round(col(s"__lang_s_$l"), roundTo).as(s"score_$l"))
    val predicted = argmax(labels.map(l => l -> col(s"__lang_s_$l")))
    // gram count is pure arithmetic — sum over n of max(len-n+1, 0) —
    // so no gram array ever materializes on the scoring path
    val len = length(col(textCol))
    val nGrams = ns.map(n => greatest(len - (n - 1), lit(0)))
      .reduce(_ + _).cast("long")
    bound.select(col(idCol) +: nGrams.as("n_grams") +:
      scoreCols :+ predicted.as("lang_id"): _*)
  }

  /** Append one `outCol` column with the predicted language — the
    * pipeline-stage form (keeps every input column). */
  def label(df: DataFrame, textCol: String, model: DataFrame,
            classStats: DataFrame, outCol: String = "lang_id",
            ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    Guards.requireFreshColumns(df, Seq(outCol), "LangId.label")
    val (bound, labels) = scored(df, textCol, model, classStats, ns)
    bound
      .withColumn(outCol, argmax(labels.map(l => l -> col(s"__lang_s_$l"))))
      .drop("__lang_sv" +: labels.map(l => s"__lang_s_$l"): _*)
  }

  /** Keep only rows whose predicted language is in `allow` — the
    * curation `lang_id:` stage body. Per-row; no new columns on the
    * output. */
  def filterByLang(df: DataFrame, textCol: String, model: DataFrame,
                   classStats: DataFrame, allow: Seq[String],
                   ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(allow.nonEmpty, "lang_id filter needs a non-empty allow set")
    Guards.requireFreshColumns(df, Seq("__lang_pred"), "LangId.filterByLang")
    val labeled = label(df, textCol, model, classStats, "__lang_pred", ns)
    val labels = classStats.select("label").collect()
      .map(_.getString(0)).toSeq
    val unknown = allow.filterNot(labels.contains)
    if (unknown.nonEmpty)
      throw graft.core.GraftError.Configuration(
        s"lang_id allow set names classes the model never saw: " +
          s"${unknown.mkString(", ")} (trained: ${labels.sorted.mkString(", ")})")
    labeled.where(col("__lang_pred").isin(allow: _*)).drop("__lang_pred")
  }
}
