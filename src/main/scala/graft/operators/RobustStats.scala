package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Robust outlier scoring: median / MAD (median absolute deviation)
  * instead of mean / stddev, so a heavy tail cannot drag its own
  * threshold. The curation use: flag absurd numeric fields (prices,
  * token counts, durations) before they poison training statistics —
  * mean/stddev z-scores famously fail exactly when outliers exist.
  *
  * Medians are pure ORDER STATISTICS (the value at 0-based sorted
  * position `floor((n−1)/2)`, nulls excluded — the lower median), so
  * every bound is an actual data value and replays exactly in SQL.
  * robust_z = (v − med) / (1.4826 · MAD) — the normal-consistency
  * constant — and `is_outlier` = |v − med| > cutoff · 1.4826 · MAD.
  * A zero MAD (over half the values identical) yields z = 0 and no
  * outliers by convention, loudly documented rather than Inf.
  *
  * Scale shape: an order statistic found without sorting the table — a
  * map-side-combined (value, count) aggregation,
  * [[Distributions.cumulative]]'s parallel prefix sums to locate the
  * order statistic, and a one-row broadcast back. Two narrow passes
  * (median, then MAD over |v − med|); the table itself never sorts or
  * shuffles, and no stage is serial in the value cardinality. */
object RobustStats {

  private def q(c: String): Column = col("`" + c.replace("`", "``") + "`")

  /** Lower-median over a cumulative distribution frame
    * ([[Distributions.cumulativeByKey]] columns v/cnt/e/n), returned as
    * a 1-row frame named `alias`. */
  private def lowerMedianOf(cum: DataFrame, alias: String): DataFrame =
    cum.agg(max(when(col("e") - col("cnt") <= floor((col("n") - 1) / 2) &&
      floor((col("n") - 1) / 2) < col("e"), col("v"))).as(alias))

  /** Attach `<col>_rz` (rounded robust z) and `<col>_outlier` for one
    * numeric column. `cutoff` is in robust-sigma units (3.5 is the
    * classic Iglewicz–Hoaglin choice).
    *
    * Round-18 shape (guide §2.3/§2.4 — don't recompute what you
    * already have): the MAD is the lower median of |v − med|, and that
    * multiset is a pure function of the VALUE DISTRIBUTION already
    * aggregated for the median — |v − med| with multiplicity cnt. The
    * previous shape re-scanned the RAW table (crossJoin(med) → a
    * second full (value,count) aggregation), so the heavy scan+agg
    * subtree ran twice more inside one plan (3 full scans, ~26
    * exchanges at the gate). Deriving the MAD distribution from the
    * first cumulative frame drops that to 2 full scans (stats + final
    * projection) and distribution-sized work for everything else —
    * identical order statistics by construction (same multiset). */
  def outliers(df: DataFrame, c: String, cutoff: Double = 3.5,
               roundTo: Int = 6): DataFrame = {
    require(df.columns.contains(c), s"no such column '$c'")
    require(df.schema(c).dataType.isInstanceOf[NumericType],
      s"column '$c' (${df.schema(c).dataType.simpleString}) is not numeric")
    require(cutoff > 0, s"cutoff must be positive, got $cutoff")
    // EAGER checkpoint of the distribution-sized cumulative frame: the
    // med and mad 1-row aggregates below are broadcast subtrees, and
    // Spark builds all of a plan's broadcasts CONCURRENTLY — left as a
    // lazy persist, every broadcast future raced to materialize this
    // same frame and the work ran ~7× (measured: 60 s of task CPU on a
    // 60 k-row table). One eager job computes it once; everything
    // downstream reads distribution-sized cached rows. Bounded by the
    // column's distinct-value count (the operator's existing contract).
    val cum = Distributions.cumulative(df, q(c)).localCheckpoint(true)
    val med = lowerMedianOf(cum, "__med")
    val madDist = cum.crossJoin(broadcast(med))
      .select(lit("_").as("c"), abs(col("v") - col("__med")).as("v"),
        col("cnt"))
      .groupBy(col("c"), col("v")).agg(sum(col("cnt")).as("cnt"))
    val mad = lowerMedianOf(Distributions.cumulativeByKey(madDist), "__mad")
    val v = q(c).cast("double")
    val scale = lit(1.4826) * col("__mad")
    df.crossJoin(broadcast(med)).crossJoin(broadcast(mad)).select(
      df.columns.toSeq.map(q) ++ Seq(
        round(when(v.isNull, lit(null).cast("double"))
          .when(col("__mad") === 0.0, lit(0.0))
          .otherwise((v - col("__med")) / scale), roundTo).as(s"${c}_rz"),
        when(v.isNull, lit(null).cast("boolean"))
          .otherwise(col("__mad") > 0.0 &&
            abs(v - col("__med")) > lit(cutoff) * scale).as(s"${c}_outlier")
      ): _*)
  }

  /** Per-key TRIMMED mean: drop the `floor(n·p)` smallest and largest
    * values of each key, average the middle — the robust location
    * estimate between the mean (p = 0, outlier-fragile) and the median
    * (p → 0.5, throws information away). The curation use: per-domain
    * "typical document length/price/score" that a handful of absurd
    * rows cannot drag.
    *
    * Computed straight from the value DISTRIBUTION: values snap to
    * fixed point (`scale` decimals), aggregate to per-key (value,
    * count) rows, and [[Distributions.cumulativeByKey]]'s parallel
    * prefix sums give each value its sorted position span — the kept
    * copies of every value follow arithmetically (overlap of the
    * value's span with [k, n−k−1]), so the raw rows are touched ONCE
    * and never sorted. Sums accumulate as exact decimals; the mean is
    * two double divisions rounded tie-safely, replaying exactly in
    * SQL.
    *
    * @return (key, n, n_kept, trimmed_mean) */
  def trimmedMean(df: DataFrame, keyCol: String, valueCol: String,
                  p: Double = 0.1, scale: Int = 2,
                  roundTo: Int = 6): DataFrame = {
    require(df.columns.contains(keyCol), s"no such column '$keyCol'")
    require(df.columns.contains(valueCol), s"no such column '$valueCol'")
    require(df.schema(valueCol).dataType.isInstanceOf[NumericType],
      s"column '$valueCol' is not numeric")
    require(p >= 0.0 && p < 0.5, s"trim fraction must be in [0, 0.5): $p")
    val pow = math.pow(10.0, scale)
    val vi = floor(q(valueCol).cast("double") * pow + 0.5).cast("long")
    val dist = df.where(q(valueCol).isNotNull)
      .select(q(keyCol).as("c"), vi.as("v"))
      .groupBy(col("c"), col("v")).agg(count(lit(1)).as("cnt"))
    val cum = Distributions.cumulativeByKey(dist)
    // keep 0-based sorted positions [k, n-k-1]; value v occupies
    // [e-cnt, e-1], so its kept copies are the span overlap
    val k = floor(col("n").cast("double") * lit(p)).cast("long")
    val kept = greatest(lit(0L),
      least(col("e") - 1, col("n") - k - 1) -
        greatest(col("e") - col("cnt"), k) + 1)
    val rf = math.pow(10.0, roundTo)
    cum.groupBy(col("c").as(keyCol))
      .agg(max(col("n")).as("n"),
        sum(kept).as("n_kept"),
        sum(col("v").cast(org.apache.spark.sql.types.DecimalType(38, 0))
          * kept).as("__s"))
      .select(col(keyCol), col("n"), col("n_kept"),
        (floor(col("__s").cast("double") / col("n_kept").cast("double")
          / pow * rf + 0.5) / rf).as("trimmed_mean"))
  }
}
