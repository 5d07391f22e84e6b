package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"):
  * pick raw-corpus documents that LOOK LIKE a small target corpus
  * (curated wiki+books, a domain sample) by importance weights in a
  * hashed n-gram feature space, then Gumbel-top-k resample. The
  * standard "make my crawl look like my target distribution" selection
  * pass of a pretraining data stack, next to the quality/dedup filters
  * that judge documents in isolation.
  *
  * Method, exactly the paper's shape: unigram+bigram occurrences hash
  * into `buckets` slots (the paper uses 10k); both corpora fit
  * bag-of-buckets categorical models (Laplace +1 smoothing here, so
  * every ratio is finite and SQL-replayable); a document's log
  * importance weight is Σ over its gram occurrences of
  * `ln p̂_target(bucket) − ln p̂_raw(bucket)`; resampling takes the
  * top k by `logw + Gumbel(id)` — the Gumbel-max trick, with the
  * noise derived from the engine-portable seeded hash of the id so
  * selection is deterministic and oracle-replayable.
  *
  * EXACTNESS (the engine-replay trick): per-bucket log ratios are
  * quantized ONCE to integer micro-nats
  * (`floor(1e9·(ln pt − ln pr) + 0.5)`), so every document weight is
  * an EXACT integer sum — order-independent across any partitioning,
  * bit-identical between engines; the < 1e-9-per-bucket quantization
  * is irrelevant to selection quality.
  *
  * Scale shape: the target corpus is small by definition; the raw
  * corpus pays ONE keys-only pass (gram-bucket explode → `buckets`-row
  * aggregation, map-side combined — at B = 10k the shuffle carries at
  * most 10k rows per partition) and then ONE projection: the ratio
  * table collects to `buckets` longs (80 KB) baked into a native
  * per-row expression ([[graft.functions.DsirExprs]]), so weighting is
  * shuffle-free and the final selection is a TakeOrdered top-k — no
  * global sort materializes. Nothing is quadratic, nothing
  * corpus-sized ever reaches the driver.
  */
object Dsir {

  /** Per-bucket gram-occurrence counts of `df` — a `buckets`-row frame
    * (bucket, cnt). */
  def bucketCounts(df: DataFrame, textCol: String, buckets: Int = 10000,
                   ns: Seq[Int] = Seq(1, 2)): DataFrame =
    df.select(explode(graft.functions.DsirExprs
        .gramBuckets(col(textCol), ns, buckets)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))

  /** The driver-side ratio table: `lqMicro(b)` = quantized
    * `ln p̂_target(b) − ln p̂_raw(b)` with Laplace +1 smoothing over
    * `buckets` categories. Bounded by construction (two
    * `buckets`-row collects). */
  private[llm] def logRatiosMicro(target: DataFrame, raw: DataFrame,
                                  textCol: String, buckets: Int,
                                  ns: Seq[Int]): Array[Long] = {
    def counts(df: DataFrame): (Array[Long], Long) = {
      val arr = new Array[Long](buckets)
      var total = 0L
      bucketCounts(df, textCol, buckets, ns).collect().foreach { r =>
        val c = r.getLong(1)
        arr(r.getInt(0)) = c
        total += c
      }
      (arr, total)
    }
    val (tc, tt) = counts(target)
    val (rc, rt) = counts(raw)
    require(tt > 0, "target corpus yields no grams — nothing to resemble")
    require(rt > 0, "raw corpus yields no grams")
    val out = new Array[Long](buckets)
    var b = 0
    while (b < buckets) {
      val lt = math.log((tc(b) + 1.0) / (tt + buckets.toDouble))
      val lr = math.log((rc(b) + 1.0) / (rt + buckets.toDouble))
      out(b) = math.floor((lt - lr) * 1e9 + 0.5).toLong
      b += 1
    }
    out
  }

  /** Attach the DSIR log importance weight to every raw document:
    * `dsir_logw_micro` (the exact integer, in micro-nats) and
    * `dsir_logw` (its double reading, micro/1e9). Pure projection over
    * the collected ratio table — no shuffle on the weighted pass. */
  def weights(raw: DataFrame, target: DataFrame, textCol: String,
              buckets: Int = 10000, ns: Seq[Int] = Seq(1, 2)): DataFrame = {
    require(raw.columns.contains(textCol), s"no such column '$textCol'")
    Guards.requireFreshColumns(raw, Seq("dsir_logw_micro", "dsir_logw"),
      "Dsir.weights")
    val lq = logRatiosMicro(target, raw, textCol, buckets, ns)
    raw.withColumn("dsir_logw_micro", graft.functions.DsirExprs
        .dsirLogWeightMicro(col(textCol), lq, ns, buckets))
      .withColumn("dsir_logw", col("dsir_logw_micro").cast("double") / 1e9)
  }

  /** Gumbel-top-k importance resampling: keep the k documents with the
    * largest `logw + g(id)` where `g(id) = −ln(−ln(u))` and `u` is the
    * portable seeded uniform `(knuth(id + seed) + 0.5) / 1e6` —
    * deterministic, engine-replayable, and exactly the Gumbel-max
    * trick for sampling ∝ exp(logw) without replacement. Ordering
    * compares the micro-quantized key (ties broken by id asc) so the
    * selection is stable under double noise in the last ulp. Top-k is
    * a TakeOrdered — no global sort. */
  def resample(raw: DataFrame, target: DataFrame, idCol: String,
               textCol: String, k: Int, buckets: Int = 10000,
               ns: Seq[Int] = Seq(1, 2), seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    Sampling.requireIntegralId(raw, idCol, "Dsir.resample")
    Guards.requireFreshColumns(raw,
      Seq("dsir_logw_micro", "dsir_logw", "__u", "__key"), "Dsir.resample")
    val id = col("`" + idCol.replace("`", "``") + "`")
    val u = (Sampling.portableBucket(id + lit(seed)).cast("double") +
      lit(0.5)) / lit(Sampling.Buckets.toDouble)
    weights(raw, target, textCol, buckets, ns)
      .withColumn("__key",
        floor((col("dsir_logw_micro").cast("double") / 1e9 -
          log(-log(u))) * 1e6 + 0.5).cast("long"))
      .orderBy(col("__key").desc, id.asc)
      .limit(k)
      .drop("__key")
  }
}
