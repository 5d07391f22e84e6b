package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gains / lift table (decile analysis): rank the population by a
  * model score, cut it into equal-depth buckets, and report each
  * bucket's response rate, cumulative capture, and lift over the base
  * rate — the campaign-targeting readout ("mailing the top 2 deciles
  * reaches 60% of responders at 3× lift") that complements
  * [[graft.llm.RankEval]] (is the ordering good per query?).
  *
  * Bucket assignment is EXACT equal-depth over the total order
  * (score desc, then `idCol` — ties are deterministic, never
  * engine-split): row at 0-based global position p of n lands in
  * bucket `p·buckets div n` + 1, the NTILE cut spelled in pure integer
  * arithmetic. The global position does NOT ride a single-reducer
  * window: rows range-partition in rank order, per-partition counts
  * make a tiny width-sized offsets frame, and each partition finishes
  * with its own local row_number — the [[Distributions]] parallel
  * prefix pattern at row granularity. The per-bucket aggregation is
  * one map-side-combined groupBy on `buckets` keys, and the
  * cumulative/lift pass runs on a buckets-row frame.
  *
  * Exactness: counts are longs; rates and lifts are single double
  * divisions of exact longs, rounded tie-safely (floor-half-up, 6dp)
  * with the same spelling the SQL oracle replays. A population with no
  * responders reports null lifts (there is no base rate to beat). Null
  * scores are excluded (unrankable); null labels fail loudly — an
  * unlabeled row in an eval set is a data bug, not a non-responder. */
object Gains {

  private def q(c: String): Column = col("`" + c.replace("`", "``") + "`")

  /** @param scoreCol model score (numeric, higher = more likely)
    * @param labelCol boolean (or 0/1 numeric) response label
    * @param idCol    deterministic tie-break within equal scores
    * @param buckets  number of equal-depth cuts (10 = deciles)
    * @return (bucket, n, responders, response_rate, cum_n,
    *         cum_responders, cum_capture, lift, cum_lift), one row per
    *         non-empty bucket, bucket 1 = best-scored */
  def liftTable(df: DataFrame, scoreCol: String, labelCol: String,
                idCol: String, buckets: Int = 10): DataFrame = {
    Seq(scoreCol, labelCol, idCol).foreach(c =>
      require(df.columns.contains(c),
        s"column '$c' not in ${df.columns.mkString(", ")}"))
    require(buckets >= 2 && buckets <= 10000,
      s"buckets must be in [2,10000], got $buckets")
    graft.llm.Guards.requireFreshColumns(df,
      Seq("__pid", "__off", "__pos", "__lab", "bucket"), "Gains.liftTable")

    val lab = df.schema(labelCol).dataType match {
      case org.apache.spark.sql.types.BooleanType => q(labelCol)
      case _: org.apache.spark.sql.types.NumericType => q(labelCol) =!= 0
      case other => throw new IllegalArgumentException(
        s"label column must be boolean or numeric, got $other")
    }
    val rows = df.where(q(scoreCol).isNotNull)
      .withColumn("__lab", when(lab.isNull,
        raise_error(lit(s"liftTable: null label in '$labelCol'")))
        .otherwise(lab.cast("boolean")))
    // exact global rank positions, parallel-prefix style
    val parts = rows
      .repartitionByRange(q(scoreCol).desc, q(idCol).asc)
      .withColumn("__pid", spark_partition_id())
    val wOff = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = parts.groupBy(col("__pid")).agg(count(lit(1)).as("__pc"))
      .withColumn("__off", coalesce(sum(col("__pc")).over(wOff), lit(0L)))
      .withColumn("__n", sum(col("__pc")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .drop("__pc")
    val wIn = Window.partitionBy(col("__pid"))
      .orderBy(q(scoreCol).desc, q(idCol).asc)
    val bucketed = parts.join(broadcast(offs), Seq("__pid"))
      .withColumn("__pos", col("__off") + row_number().over(wIn) - 1)
      // NTILE cut in integer arithmetic: pos*buckets div n, 1-based
      .withColumn("bucket",
        expr(s"(__pos * ${buckets}L) div __n").cast("int") + 1)
    val perBucket = bucketed.groupBy(col("bucket")).agg(
      count(lit(1)).as("n"),
      sum(when(col("__lab"), 1L).otherwise(0L)).as("responders"))
    // cumulative + lift on a buckets-row frame
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val totN = sum(col("n")).over(wAll)
    val totR = sum(col("responders")).over(wAll)
    perBucket
      .withColumn("response_rate",
        r6(col("responders").cast("double") / col("n").cast("double")))
      .withColumn("cum_n", sum(col("n")).over(wCum))
      .withColumn("cum_responders", sum(col("responders")).over(wCum))
      .withColumn("cum_capture", when(totR =!= 0,
        r6(col("cum_responders").cast("double") / totR.cast("double"))))
      // lifts as double×double products BEFORE dividing — a long
      // product would overflow at petabyte row counts; the oracle
      // spells the identical double arithmetic
      .withColumn("lift", when(totR =!= 0,
        r6((col("responders").cast("double") * totN.cast("double")) /
          (col("n").cast("double") * totR.cast("double")))))
      .withColumn("cum_lift", when(totR =!= 0,
        r6((col("cum_responders").cast("double") * totN.cast("double")) /
          (col("cum_n").cast("double") * totR.cast("double")))))
  }
}
