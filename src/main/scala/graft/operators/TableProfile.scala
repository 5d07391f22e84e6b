package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table profiling: per-column `n_rows` / `n_nulls` / `n_distinct` /
  * `min_value` / `max_value` in ONE aggregation pass — the data-quality
  * report every ETL run wants next to the reference's schema inference
  * and row estimates (SURVEY §2.A: `estimated_rows`, `pg_class
  * .reltuples`-style catalog probes; this is the real measurement).
  *
  * Scale shape: one `agg` over the table. With `exact = false`
  * (the scale default) distinct counts use HyperLogLog++
  * (`approx_count_distinct`, one pass, no expand); `exact = true` uses
  * `count distinct`, which Catalyst plans via an Expand of the input —
  * one row per profiled column per input row — correct but a
  * multi-pass-equivalent cost, for small tables and oracle checks. The
  * result is |cols| rows assembled from the single aggregate row by a
  * `stack` projection — nothing wide ever materializes.
  *
  * `min_value`/`max_value` are reported as strings so one schema fits
  * every column type; ordering is the COLUMN type's (numeric min, not
  * lexicographic) because the cast happens after the aggregate. */
object TableProfile {

  def summarize(df: DataFrame, cols: Seq[String] = Nil,
                exact: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types._
    def atomic(c: String): Boolean = df.schema(c).dataType match {
      case _: NumericType => true
      case StringType | BooleanType | DateType | TimestampType |
           TimestampNTZType | BinaryType => true
      case _ => false
    }
    // default mode skips non-atomic columns (maps/arrays/structs have
    // no min/max ordering or hashable distinct) instead of crashing
    // the whole profile; explicitly-requested ones stay a loud error
    val names =
      if (cols.nonEmpty) cols.distinct
      else df.columns.toSeq.filter(atomic)
    require(names.nonEmpty, "no profilable columns")
    names.foreach { c =>
      require(df.columns.contains(c),
        s"no such column '$c' (have: ${df.columns.mkString(", ")})")
      require(atomic(c),
        s"column '$c' (${df.schema(c).dataType.simpleString}) is not " +
          "profilable: min/max/distinct need an atomic type")
    }
    def distinctAgg(c: Column): Column =
      if (exact) countDistinct(c) else approx_count_distinct(c)
    // resolve data columns backtick-quoted and key internal aliases by
    // INDEX, not name: a legal column name may contain dots (or even
    // backticks), which bare col(c) would misparse as a nested-field path
    def colQ(c: String): Column = col("`" + c.replace("`", "``") + "`")
    val aggs = names.zipWithIndex.flatMap { case (c, i) =>
      Seq(count(colQ(c)).as(s"__c_$i"),
        distinctAgg(colQ(c)).as(s"__d_$i"),
        min(colQ(c)).cast("string").as(s"__mn_$i"),
        max(colQ(c)).cast("string").as(s"__mx_$i"))
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    // stack(n, name1, nulls1, dst1, mn1, mx1, ...) → one row per column
    val stackArgs = names.zipWithIndex.flatMap { case (c, i) =>
      Seq(lit(c), col("__n") - col(s"__c_$i"), col(s"__d_$i"),
        col(s"__mn_$i"), col(s"__mx_$i"))
    }
    one.select(col("__n").as("n_rows"),
        stack(lit(names.size) +: stackArgs: _*)
          .as(Seq("column_name", "n_nulls", "n_distinct",
            "min_value", "max_value")))
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_value"), col("max_value"))
  }

  /** Per-column distribution profile for NUMERIC columns: mean, sample
    * stddev, and interpolated quartiles + p95 — the "what does this
    * column look like" report next to [[summarize]]'s counts. One
    * aggregation pass over the table.
    *
    * `exact = false` (the scale default) estimates quantiles with
    * `approx_percentile` (one streaming sketch pass, no sort) and
    * mean/stddev with Spark's merge-order-dependent running moments —
    * ONE aggregation pass, bounded memory.
    *
    * `exact = true` is the ENGINE-REPLAYABLE mode: mean/stddev from
    * EXACT decimal sums (Σx, Σx² as DECIMAL(28,10), textbook
    * two-moment formula in double on those exact sums) — every engine
    * computes the identical IEEE doubles regardless of row order, at
    * the documented cost of the formula's cancellation for
    * tiny-variance/huge-mean columns — and quantiles by DISTRIBUTED
    * order statistics: melt the columns into (column, value) rows, a
    * map-side-combined `groupBy(value).count` per column, a cumulative
    * window over the (value, count) distribution, then pick and
    * linearly interpolate the (n−1)·p neighbors — the same formula as
    * Spark's `percentile` and DuckDB's `quantile_cont`. Nothing holds
    * a whole column in one aggregation buffer (the old
    * `percentile`-based path did — an unbounded OpenHashMap per
    * column); per-task memory is bounded by the distribution spread,
    * so the exact path survives high-cardinality columns at scale.
    * Doubles are rounded to `roundTo` so interpolation ulp noise stays
    * below the comparison. */
  def numericProfile(df: DataFrame, cols: Seq[String],
                     exact: Boolean = false, roundTo: Int = 4): DataFrame = {
    import org.apache.spark.sql.types._
    require(cols.nonEmpty, "numericProfile needs at least one column")
    cols.foreach { c =>
      require(df.columns.contains(c),
        s"no such column '$c' (have: ${df.columns.mkString(", ")})")
      require(df.schema(c).dataType.isInstanceOf[NumericType],
        s"column '$c' (${df.schema(c).dataType.simpleString}) is not numeric")
    }
    def colQ(c: String): Column = col("`" + c.replace("`", "``") + "`")
    val ps = Seq(0.25, 0.5, 0.75, 0.95)
    val qNames = Seq("p25", "p50", "p75", "p95")
    val dec = DecimalType(28, 10)
    if (!exact) {
      val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
        val d = colQ(c).cast("double")
        Seq(avg(d).as(s"__avg_$i"), stddev_samp(d).as(s"__sd_$i"),
          percentile_approx(d, lit(ps.toArray), lit(10000)).as(s"__q_$i"))
      }
      val one = df.agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols.zipWithIndex.flatMap { case (c, i) =>
        Seq(lit(c), round(col(s"__avg_$i"), roundTo),
          round(col(s"__sd_$i"), roundTo)) ++
          ps.indices.map(j =>
            round(element_at(col(s"__q_$i"), j + 1), roundTo))
      }
      return one.select(stack(lit(cols.size) +: stackArgs: _*)
        .as(Seq("column_name", "mean", "stddev") ++ qNames))
    }

    import org.apache.spark.sql.expressions.Window
    // melt: one scan, |cols| (name, value) rows per input row
    val melted = df
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("c"), colQ(c).cast("double").as("v"))): _*)).as("s"))
      .select(col("s.c").as("c"), col("s.v").as("v"))
      .where(col("v").isNotNull)
    // per-column value distribution; map-side combine shrinks each
    // partition to its distinct values before the one wide shuffle
    val dist = melted.groupBy("c", "v").agg(count(lit(1)).as("cnt"))
    val byCol = Window.partitionBy("c")
    val cum = Window.partitionBy("c").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // a value with inclusive cumulative end `e` and count `cnt` covers
    // 0-based sorted positions [e-cnt, e-1]
    val pos = dist
      .withColumn("e", sum("cnt").over(cum))
      .withColumn("n", sum("cnt").over(byCol))
      .withColumn("s1",
        sum(col("v").cast(dec) * col("cnt")).over(byCol).cast("double"))
      .withColumn("s2",
        sum((col("v") * col("v")).cast(dec) * col("cnt")).over(byCol)
          .cast("double"))
    def at(k: Column): Column =
      max(when(col("e") - col("cnt") <= k && k < col("e"), col("v")))
    val qAggs = ps.zipWithIndex.flatMap { case (p, j) =>
      val r = (col("n") - 1).cast("double") * lit(p)
      Seq(at(floor(r)).as(s"__lo_$j"), at(ceil(r)).as(s"__hi_$j"),
        max(r - floor(r)).as(s"__f_$j"))
    }
    val allAggs = Seq(max("n").as("n"), max("s1").as("s1"),
      max("s2").as("s2")) ++ qAggs
    val agged = pos.groupBy("c").agg(allAggs.head, allAggs.tail: _*)
    // left join from the requested column list so all-null/empty
    // columns still yield a (null-stats) row, in request order
    import df.sparkSession.implicits._
    val names = cols.zipWithIndex.toDF("column_name", "__ord")
    val n = col("n")
    val outCols = Seq(col("column_name"), col("__ord"),
      round(when(n > 0, col("s1") / n), roundTo).as("mean"),
      round(when(n > 1,
        sqrt((col("s2") - col("s1") * col("s1") / n) / (n - lit(1)))),
        roundTo).as("stddev")) ++
      ps.indices.map(j => round(
        col(s"__lo_$j") +
          (col(s"__hi_$j") - col(s"__lo_$j")) * col(s"__f_$j"),
        roundTo).as(qNames(j)))
    names.join(agged, col("column_name") === col("c"), "left")
      .select(outCols: _*)
      .orderBy("__ord")
      .select(col("column_name") +: col("mean") +: col("stddev") +:
        qNames.map(col): _*)
  }

  /** Equi-width histogram of a numeric column: `bins` buckets over
    * [lo, hi] (data min/max when not given — one extra narrow agg),
    * values exactly at `hi` fold into the last bin, out-of-range rows
    * are dropped, EMPTY bins are emitted as zero rows (a report with
    * holes reads as missing data). Bin edges and assignments are plain
    * IEEE double arithmetic — floor((x-lo)/width) — so any SQL engine
    * replays them bit-for-bit. Scale shape: one narrow groupBy on the
    * bin index; the zero-fill joins a `bins`-row range frame. */
  def histogram(df: DataFrame, c: String, bins: Int = 20,
                lo: Option[Double] = None,
                hi: Option[Double] = None): DataFrame = {
    import org.apache.spark.sql.types._
    require(bins >= 1, s"bins must be >= 1: $bins")
    require(df.columns.contains(c), s"no such column '$c'")
    require(df.schema(c).dataType.isInstanceOf[NumericType],
      s"column '$c' is not numeric")
    val d = col("`" + c.replace("`", "``") + "`").cast("double")
    val (mn, mx) = (lo, hi) match {
      case (Some(a), Some(b)) => (a, b)
      case _ =>
        val r = df.agg(min(d).as("mn"), max(d).as("mx")).head
        if (r.isNullAt(0)) (0.0, 1.0) // all-null/empty: empty histogram
        else (lo.getOrElse(r.getDouble(0)), hi.getOrElse(r.getDouble(1)))
    }
    require(mx >= mn, s"hi $mx < lo $mn")
    val width = if (mx == mn) 1.0 else (mx - mn) / bins
    val bin = least(floor((d - lit(mn)) / lit(width)), lit(bins - 1))
      .cast("long")
    val counts = df.filter(d.isNotNull && d >= mn && d <= mx)
      .groupBy(bin.as("bin")).agg(count(lit(1)).as("n"))
    df.sparkSession.range(bins).select(col("id").as("bin"))
      .join(counts, Seq("bin"), "left")
      .select(col("bin"),
        (lit(mn) + col("bin") * lit(width)).as("bin_lo"),
        (lit(mn) + (col("bin") + 1) * lit(width)).as("bin_hi"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** 2-D equi-width heatmap: joint density grid of two numeric
    * columns — the scatter-at-scale dashboard primitive (price ×
    * quantity, latency × payload size) where a raw scatter plot of a
    * billion points is unreadable and unshippable. Same exactness
    * contract as [[histogram]]: pinned or data-derived ranges, plain
    * IEEE `floor((x−lo)/width)` bin assignment any SQL engine replays
    * bit-for-bit, values exactly at `hi` folding into the last bin,
    * out-of-range and null rows dropped. Cells with no rows are
    * OMITTED (a dense zero-fill of bins² cells serves no renderer; the
    * caller's grid knows absent = 0 — the opposite choice from 1-D,
    * where zero BARS read as missing data).
    *
    * Scale shape: ONE map-side-combined groupBy on the (xbin, ybin)
    * pair — at most bins² groups regardless of row count; the
    * optional extra agg for data-derived ranges is a narrow 1-row
    * pass. */
  def heatmap2d(df: DataFrame, xCol: String, yCol: String, bins: Int = 20,
                xLo: Option[Double] = None, xHi: Option[Double] = None,
                yLo: Option[Double] = None, yHi: Option[Double] = None)
      : DataFrame = {
    import org.apache.spark.sql.types._
    require(bins >= 1 && bins <= 2000, s"bins must be in [1,2000]: $bins")
    require(xCol != yCol, "heatmap needs two distinct columns")
    Seq(xCol, yCol).foreach { c =>
      require(df.columns.contains(c), s"no such column '$c'")
      require(df.schema(c).dataType.isInstanceOf[NumericType],
        s"column '$c' is not numeric")
    }
    val dx = col("`" + xCol.replace("`", "``") + "`").cast("double")
    val dy = col("`" + yCol.replace("`", "``") + "`").cast("double")
    def range(d: Column, lo: Option[Double], hi: Option[Double]) =
      (lo, hi) match {
        case (Some(a), Some(b)) => (a, b)
        case _ =>
          val r = df.agg(min(d).as("mn"), max(d).as("mx")).head
          if (r.isNullAt(0)) (0.0, 1.0)
          else (lo.getOrElse(r.getDouble(0)), hi.getOrElse(r.getDouble(1)))
      }
    val (xmn, xmx) = range(dx, xLo, xHi)
    val (ymn, ymx) = range(dy, yLo, yHi)
    require(xmx >= xmn && ymx >= ymn, "hi < lo on a heatmap axis")
    val xw = if (xmx == xmn) 1.0 else (xmx - xmn) / bins
    val yw = if (ymx == ymn) 1.0 else (ymx - ymn) / bins
    def bin(d: Column, mn: Double, w: Double) =
      least(floor((d - lit(mn)) / lit(w)), lit(bins - 1)).cast("long")
    df.filter(dx.isNotNull && dx >= xmn && dx <= xmx &&
        dy.isNotNull && dy >= ymn && dy <= ymx)
      .groupBy(bin(dx, xmn, xw).as("xbin"), bin(dy, ymn, yw).as("ybin"))
      .agg(count(lit(1)).as("n"))
      .select(col("xbin"), col("ybin"),
        (lit(xmn) + col("xbin") * lit(xw)).as("x_lo"),
        (lit(ymn) + col("ybin") * lit(yw)).as("y_lo"),
        col("n"))
  }

  /** Equi-DEPTH histogram: `bins` buckets of (approximately) equal row
    * count — the shape that stays readable on heavy-tailed columns
    * where equi-width piles everything into one bar. Tie-preserving:
    * every row of one distinct value lands in the bin its value's
    * FIRST sorted position falls in (`floor(bins·start/n)`), so bins
    * are a pure function of the data and replay exactly in SQL —
    * unlike `ntile`, which splits ties by nondeterministic row order.
    * A value holding more than a bin's worth of rows overflows its bin
    * (and may leave later bins empty): depth equality bends to value
    * atomicity, loudly by design.
    *
    * Scale shape: order statistics without a sort — one map-side
    * combined (value, count) aggregation, [[Distributions.cumulative]]
    * parallel prefix sums over the distinct values, and a |bins|-row
    * result. The table itself never sorts. */
  def equiDepthHistogram(df: DataFrame, c: String, bins: Int = 10): DataFrame = {
    import org.apache.spark.sql.types._
    require(bins >= 1, s"bins must be >= 1: $bins")
    require(df.columns.contains(c), s"no such column '$c'")
    require(df.schema(c).dataType.isInstanceOf[NumericType],
      s"column '$c' is not numeric")
    val d = col("`" + c.replace("`", "``") + "`").cast("double")
    Distributions.cumulative(df, d)
      .groupBy(least(lit(bins - 1),
        floor(lit(bins) * (col("e") - col("cnt")) / col("n")))
        .cast("int").as("bin"))
      .agg(min("v").as("bin_lo"), max("v").as("bin_hi"),
        sum("cnt").as("n_rows"))
  }

  /** Top-`k` most frequent values per column — the "what's actually in
    * here" report (skewed categories, sentinel strings, default-value
    * floods). One row per (column, value) with its count and dense
    * 1-based rank; ties break by value ascending so the report is
    * deterministic and any SQL engine replays it.
    *
    * Scale shape: melt to (column, value) in one scan, map-side-combined
    * `groupBy.count` (the only wide shuffle carries distinct
    * (column, value, count) triples, not rows), then a per-column
    * window rank over the aggregated counts. Values are reported as
    * strings so one schema fits every column type; nulls count as a
    * value (a null flood is exactly what this report should surface). */
  def topValues(df: DataFrame, cols: Seq[String] = Nil,
                k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    require(k >= 1, s"k must be >= 1: $k")
    def atomic(c: String): Boolean = df.schema(c).dataType match {
      case _: NumericType => true
      case StringType | BooleanType | DateType | TimestampType |
           TimestampNTZType => true
      case _ => false
    }
    val names =
      if (cols.nonEmpty) cols.distinct
      else df.columns.toSeq.filter(atomic)
    require(names.nonEmpty, "no profilable columns")
    names.foreach { c =>
      require(df.columns.contains(c),
        s"no such column '$c' (have: ${df.columns.mkString(", ")})")
      require(atomic(c),
        s"column '$c' (${df.schema(c).dataType.simpleString}) is not " +
          "rankable: top-values needs an atomic type")
    }
    def colQ(c: String): Column = col("`" + c.replace("`", "``") + "`")
    val melted = df
      .select(explode(array(names.map(c =>
        struct(lit(c).as("c"), colQ(c).cast("string").as("v"))): _*)).as("s"))
      .select(col("s.c").as("column_name"), col("s.v").as("value"))
    val counts = melted.groupBy("column_name", "value")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("column_name")
      .orderBy(col("n").desc, col("value").asc_nulls_first)
    counts.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("column_name"), col("value"), col("n"), col("rank"))
  }
}
