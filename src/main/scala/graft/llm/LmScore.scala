package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-trained unigram language-model scoring — the
  * perplexity-style quality signal (CCNet-style filtering, reduced to
  * the unigram model that needs no external artifacts): documents made
  * of common corpus vocabulary score high, gibberish and
  * out-of-distribution text score low. `avg_logprob` is the mean
  * ln P(w) over the document's token occurrences, with P(w) = count(w)
  * / total corpus tokens for the top-`vocabSize` vocabulary and a
  * 1/total floor for everything out of vocabulary.
  *
  * Scale shape: training is one narrow (word, count) aggregation (the
  * token stream explodes to keys only) with a deterministic
  * TakeOrdered vocabulary cut (count desc, word asc); scoring is one
  * corpus pass whose exploded tokens LEFT-join the BROADCAST
  * vocabulary — at web scale the vocabulary is pruned to `vocabSize`
  * precisely so it stays broadcastable.
  */
object LmScore {

  /** Word-occurrence stream (lowercase, `\W+` split, empties dropped) —
    * the same tokenizer as the whole text family. */
  private def tokens(text: org.apache.spark.sql.Column) =
    Contamination.tokens(text)

  /** The full `(word, cnt)` corpus aggregate both model artifacts
    * derive from — [[unigramVocab]] cuts its top-k, [[totalTokensDf]]
    * sums it. One definition so the two subtrees canonicalize equal
    * and share their exchange inside one scoring plan. */
  private def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** `(word, cnt)` for the `vocabSize` most frequent corpus words,
    * ties broken by word — deterministic on any cluster. */
  def unigramVocab(df: DataFrame, textCol: String,
                   vocabSize: Int = 5000): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1: $vocabSize")
    wordCounts(df, textCol)
      .orderBy(col("cnt").desc, col("word"))
      .limit(vocabSize)
  }

  /** Total token occurrences in the corpus — the model's denominator.
    * One narrow aggregation job. */
  def totalTokens(df: DataFrame, textCol: String): Long =
    df.select(sum(size(tokens(col(textCol)))).as("n"))
      .head.getAs[Long]("n")

  /** [[totalTokens]] as a 1-row FRAME (`__total`), derived from the
    * same `(word, cnt)` aggregate as [[unigramVocab]] (identical sum:
    * every token occurrence is counted under exactly one word). Passed
    * to the [[score]]/[[scoreBigram]] frame overloads, the denominator
    * stops being its own driver ACTION — the extra tokenize pass it
    * cost folds into the scoring plan, where exchange reuse collapses
    * it with the vocabulary build (round-19, guide §5: exchange reuse
    * cannot span separate actions). */
  def totalTokensDf(df: DataFrame, textCol: String): DataFrame =
    wordCounts(df, textCol).agg(sum(col("cnt")).as("__total"))

  /** A [[totalTokensDf]] frame that fails the scoring plan when
    * `__total` is null or < 1 (an empty or token-less corpus) — the
    * frame overloads' twin of the Long overloads' `require`. */
  private def checkedTotal(total: DataFrame): DataFrame =
    total.select(when(col("__total").isNull || col("__total") < 1,
        raise_error(lit("total tokens must be >= 1 " +
          "(empty or token-less corpus)")))
      .otherwise(col("__total")).as("__total"))

  /** `(id, prev, word)` token stream with `prev = null` on each
    * document's first token — built SHUFFLE-FREE from one array
    * projection (`arrays_zip` of the token array against its
    * null-prefixed shift), not a lag window: a window would shuffle
    * the whole corpus by document just to look one token back.
    * Token-less/null documents emit one `(null, null)` row so
    * downstream aggregates still see every id (the `explode_outer`
    * contract of the unigram scorer). */
  private def pairsExpr(textCol: String): org.apache.spark.sql.Column = {
    val toks = tokens(col(textCol))
    val prevArr = concat(array(lit(null).cast("string")),
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))))
    arrays_zip(prevArr, toks)
  }

  private def tokenPairs(df: DataFrame, idCol: String, textCol: String) =
    df.select(col(idCol), explode_outer(pairsExpr(textCol)).as("__bg"))
      .select(col(idCol), col("__bg.0").as("prev"), col("__bg.1").as("word"))

  /** `(prev, word, bcnt)` for the `bigramSize` most frequent corpus
    * bigrams whose CONTEXT word is in `vocab` (from [[unigramVocab]]) —
    * restricting contexts to the pruned vocabulary keeps the model
    * self-consistent (every bigram's denominator exists) and the
    * broadcast bounded. Ties break on (prev, word), so the cut is a
    * total order: deterministic on any cluster, exactly replayable. */
  def bigramCounts(df: DataFrame, textCol: String, vocab: DataFrame,
                   bigramSize: Int = 20000): DataFrame = {
    require(bigramSize >= 1, s"bigramSize must be >= 1: $bigramSize")
    df.select(explode(pairsExpr(textCol)).as("__bg"))
      .select(col("__bg.0").as("prev"), col("__bg.1").as("word"))
      .filter(col("prev").isNotNull)
      .join(broadcast(vocab.select(col("word").as("prev"))), Seq("prev"),
        "left_semi")
      .groupBy(col("prev"), col("word")).agg(count(lit(1)).as("bcnt"))
      .orderBy(col("bcnt").desc, col("prev"), col("word"))
      .limit(bigramSize)
  }

  /** Per-document `n_tokens` and `avg_logscore` under a corpus-trained
    * bigram model with Stupid Backoff (Brants et al. 2007, "Large
    * Language Models in Machine Translation"): the web-scale smoothing
    * that never normalizes —
    *
    *   S(w | prev) = bcnt(prev, w) / cnt(prev)   when the bigram table
    *                                             and vocab hold both
    *               = alpha * S(w)                otherwise (backoff)
    *   S(w)        = cnt(w) / total, floored at 1 / total for OOV
    *
    * First tokens (no context) score S(w) directly, no penalty. The
    * unigram scorer catches gibberish WORDS; this catches gibberish
    * ORDER — a shuffled document keeps its unigram score (same word
    * multiset) but loses its bigrams and drops by ~ln(alpha) per token.
    *
    * Scale shape: one corpus pass (the shuffle-free [[tokenPairs]]
    * projection), three BROADCAST joins against the pruned model
    * tables, one groupBy(id) — document text never rides a wide
    * shuffle, and both model tables are pruned precisely so they stay
    * broadcastable. */
  def scoreBigram(df: DataFrame, idCol: String, textCol: String,
                  vocab: DataFrame, bigrams: DataFrame, total: Long,
                  alpha: Double = 0.4, roundTo: Int = 6): DataFrame = {
    require(total >= 1, s"total tokens must be >= 1: $total")
    scoreBigramImpl(df, idCol, textCol, vocab, bigrams, identity,
      lit(total.toDouble), alpha, roundTo)
  }

  /** [[scoreBigram]] with the denominator as a [[totalTokensDf]] frame
    * instead of a driver-collected Long: same per-token double
    * sequence (cnt / total in one division), one fewer action and one
    * fewer corpus tokenize pass. */
  def scoreBigram(df: DataFrame, idCol: String, textCol: String,
                  vocab: DataFrame, bigrams: DataFrame, total: DataFrame,
                  alpha: Double, roundTo: Int): DataFrame = {
    Guards.requireFreshColumns(df, Seq("__total"), "LmScore.scoreBigram")
    scoreBigramImpl(df, idCol, textCol, vocab, bigrams,
      _.crossJoin(broadcast(checkedTotal(total))),
      col("__total").cast("double"), alpha, roundTo)
  }

  def scoreBigram(df: DataFrame, idCol: String, textCol: String,
                  vocab: DataFrame, bigrams: DataFrame,
                  total: DataFrame): DataFrame =
    scoreBigram(df, idCol, textCol, vocab, bigrams, total, 0.4, 6)

  private def scoreBigramImpl(df: DataFrame, idCol: String, textCol: String,
                              vocab: DataFrame, bigrams: DataFrame,
                              attach: DataFrame => DataFrame,
                              totalD: org.apache.spark.sql.Column,
                              alpha: Double, roundTo: Int): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1]: $alpha")
    Guards.requireFreshColumns(df,
      Seq("prev", "word", "cnt", "bcnt", "n_tokens", "avg_logscore"),
      "LmScore.scoreBigram")
    val uniP = coalesce(col("cnt"), lit(1L)).cast("double") / totalD
    val lp = when(col("prev").isNull, log(uniP))
      .when(col("bcnt").isNotNull && col("__p").isNotNull,
        log(col("bcnt").cast("double") / col("__p").cast("double")))
      .otherwise(log(lit(alpha)) + log(uniP))
    attach(tokenPairs(df, idCol, textCol)
        .join(broadcast(bigrams), Seq("prev", "word"), "left")
        .join(broadcast(vocab.select(col("word").as("prev"),
          col("cnt").as("__p"))), Seq("prev"), "left")
        .join(broadcast(vocab), Seq("word"), "left"))
      .groupBy(col(idCol))
      .agg(count(col("word")).as("n_tokens"),
        avg(when(col("word").isNotNull, lp)).as("__alp"))
      .select(col(idCol), col("n_tokens"),
        coalesce(round(col("__alp"), roundTo), lit(0.0)).as("avg_logscore"))
  }

  /** Per-document `n_tokens` and `avg_logprob` against a trained
    * `vocab` (from [[unigramVocab]]) and denominator `total` (from
    * [[totalTokens]]). Token-less documents stay in the report as
    * 0 / 0.0. */
  def score(df: DataFrame, idCol: String, textCol: String,
            vocab: DataFrame, total: Long, roundTo: Int = 6): DataFrame = {
    require(total >= 1, s"total tokens must be >= 1: $total")
    scoreImpl(df, idCol, textCol, vocab, identity, lit(total.toDouble),
      roundTo)
  }

  /** [[score]] with the denominator as a [[totalTokensDf]] frame: the
    * 1-row total cross-joins in as a broadcast instead of being
    * collected by its own action, and its tokenize subtree shares the
    * vocabulary build's exchange. Same per-token double sequence
    * (`cnt / total` in one division) — results are bit-identical. */
  def score(df: DataFrame, idCol: String, textCol: String,
            vocab: DataFrame, total: DataFrame, roundTo: Int): DataFrame = {
    Guards.requireFreshColumns(df, Seq("__total"), "LmScore.score")
    scoreImpl(df, idCol, textCol, vocab,
      _.crossJoin(broadcast(checkedTotal(total))),
      col("__total").cast("double"), roundTo)
  }

  def score(df: DataFrame, idCol: String, textCol: String,
            vocab: DataFrame, total: DataFrame): DataFrame =
    score(df, idCol, textCol, vocab, total, 6)

  private def scoreImpl(df: DataFrame, idCol: String, textCol: String,
                        vocab: DataFrame, attach: DataFrame => DataFrame,
                        totalD: org.apache.spark.sql.Column,
                        roundTo: Int): DataFrame = {
    Guards.requireFreshColumns(df,
      Seq("word", "cnt", "n_tokens", "avg_logprob"), "LmScore.score")
    val lp = log(coalesce(col("cnt"), lit(1L)).cast("double") / totalD)
    attach(df.select(col(idCol), explode_outer(tokens(col(textCol))).as("word"))
        .join(broadcast(vocab), Seq("word"), "left"))
      .groupBy(col(idCol))
      .agg(count(col("word")).as("n_tokens"),
        avg(when(col("word").isNotNull, lp)).as("__alp"))
      .select(col(idCol), col("n_tokens"),
        coalesce(round(col("__alp"), roundTo), lit(0.0)).as("avg_logprob"))
  }

  /** Collocation mining by pointwise mutual information — the
    * corpus-analysis classic (Church & Hanks 1990): word pairs that
    * co-occur far more than their individual frequencies predict
    * ("machine learning", "new york") surface with
    * PMI = ln(c_ab·T / (c_a·c_b)); frequent-but-independent pairs
    * ("of the") score near zero. The vocabulary-building companion to
    * [[BpeTrain]] (multi-word units worth a single token) and the
    * phrase signal TF-IDF's unigram view cannot see.
    *
    * Determinism: counts are exact integers; PMI is one log of an
    * integer ratio, rounded tie-safely; the top-k cut orders (pmi
    * desc, w1, w2). `minCount` kills the low-count PMI pathology
    * (hapax pairs score highest) AND bounds the ranked frame.
    *
    * Scale shape: one adjacent-pair explode into a (pair)-keys-only
    * aggregation, unigram counts meeting the (filtered, far smaller)
    * pair frame in keys-only equi-joins, TakeOrdered top-k — no
    * global sort. */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 5,
                   k: Int = 20, roundTo: Int = 6): DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2: $minCount")
    require(k >= 1, s"k must be >= 1: $k")
    val toks = tokens(col(textCol))
    val pairs = df
      .select(explode(arrays_zip(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))))).as("__p"))
      .select(col("__p.0").as("w1"), col("__p.1").as("w2"))
    val pairCounts = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("pair_count"))
      .where(col("pair_count") >= minCount)
    val uni = df.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = uni.agg(sum(col("cnt")).as("__t"))
    val rf = math.pow(10.0, roundTo)
    val pmi = log(col("pair_count").cast("double") *
      col("__t").cast("double") /
      (col("c1").cast("double") * col("c2").cast("double")))
    // unigram counts join as plain keys-only equi-joins — the FULL
    // vocabulary is not broadcastable at corpus scale; the pair frame
    // is already minCount-filtered and small
    pairCounts
      .join(uni.select(col("w").as("w1"), col("cnt").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cnt").as("c2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .withColumn("pmi", floor(pmi * rf + 0.5) / rf)
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
      .select(col("w1"), col("w2"), col("pair_count"),
        col("c1"), col("c2"), col("pmi"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): partition
    * scored documents into quality tiers — `head` / `middle` / `tail`
    * by default — by corpus-level perplexity percentile, the step CCNet
    * runs between LM scoring and downstream sampling (train on head,
    * drop or down-weight tail).
    *
    * `scored` is the output of [[score]] / [[scoreBigram]] (or any
    * frame carrying `scoreCol`, higher = better). The proxy is the
    * negated score (so higher = worse, like perplexity); tier `i`
    * (1-based) takes documents whose proxy is ≤ the corpus's
    * `ceil(i·n/m)`-th smallest proxy value (m = number of labels), an
    * EXACT order statistic — every document with the same rounded score
    * lands in the same tier on any engine and any partitioning.
    * Token-less rows (`n_tokens` = 0, scored 0.0 by convention) are
    * excluded — a no-token document has no perplexity.
    *
    * Scale shape: the thresholds come from [[graft.operators
    * .Distributions]]'s range-partitioned parallel prefix sums over the
    * (value, count) distribution — no global sort, no single-reducer
    * window — reduced to ONE (m−1)-column row broadcast back onto a
    * shuffle-free projection. The cutoffs are exact corpus-level order
    * statistics, not per-partition approximations, so tier populations
    * are reproducible run to run. */
  def perplexityBuckets(scored: DataFrame, idCol: String,
                        scoreCol: String = "avg_logprob",
                        labels: Seq[String] =
                          Seq("head", "middle", "tail")): DataFrame = {
    require(labels.size >= 2, s"need >= 2 tier labels, got $labels")
    require(labels.distinct.size == labels.size,
      s"tier labels must be distinct: $labels")
    Guards.requireFreshColumns(scored,
      Seq("perplexity_proxy", "bucket") ++
        (1 until labels.size).map(i => s"__t$i"),
      "LmScore.perplexityBuckets")
    val m = labels.size
    val withP = scored.where(col("n_tokens") > 0)
      .withColumn("perplexity_proxy", -col(scoreCol))
    val cum = graft.operators.Distributions
      .cumulative(withP, col("perplexity_proxy"))
    // k-th smallest = min v with inclusive cumulative count >= k,
    // k_i = ceil(i*n/m) — ONE tiny (m-1)-column threshold row
    val thCols = (1 until m).map { i =>
      min(when(col("e") >=
        ceil(col("n") * lit(i) / lit(m.toDouble)), col("v"))).as(s"__t$i")
    }
    val ths = cum.agg(thCols.head, thCols.tail: _*)
    // first tier whose threshold covers the proxy; an empty corpus
    // yields null thresholds -> every comparison is null -> last label
    val bucket = (1 until m).foldRight(lit(labels.last)) { (i, acc) =>
      when(col("perplexity_proxy") <= col(s"__t$i"),
        lit(labels(i - 1))).otherwise(acc)
    }
    withP.crossJoin(broadcast(ths))
      .select(col(idCol), col("n_tokens"), col("perplexity_proxy"),
        bucket.as("bucket"))
  }
}
