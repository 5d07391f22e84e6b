package graft.core

import org.apache.spark.sql.SparkSession

/** Per-round exchange sizing for the dedup closure loop,
  * `Dedup.convergeCanonicals` (this object's one caller), by the rule
  * SCALING.md's 30× ramp measured: a closure loop launches its
  * join+agg jobs over every shuffle partition EVERY round, so
  * `width × rounds × stages` of task overhead dominates before data
  * volume does when the width is sized to the input corpus instead of
  * the per-round table (q_dedup_connected at 30×: 113s at shuffle=192
  * vs 47s at 96 on identical data/cores). The closure rounds therefore
  * size their own exchanges from a MEASURED per-round row count — one
  * cheap count of an already-checkpointed frame — instead of
  * inheriting the global `spark.sql.shuffle.partitions`, so a 100× run
  * needs no hand-tuned global shuffle width.
  */
object LoopShuffle {

  /** Width for a per-round exchange carrying `rows` rows of roughly
    * `bytesPerRow` (shuffle-format) bytes: enough partitions that one
    * partition holds ~`targetBytes` (the 64 MiB shuffle-block
    * sweet spot — matches AQE's advisory size), floored at the
    * cluster's core count (an undersized width would idle executors on
    * small rounds) and capped at 2^17 (a runaway-estimate backstop far
    * above any real round). */
  def width(spark: SparkSession, rows: Long, bytesPerRow: Int,
            targetBytes: Long = 64L << 20): Int = {
    require(rows >= 0 && bytesPerRow > 0,
      s"rows=$rows bytesPerRow=$bytesPerRow")
    val byVolume = math.ceil(
      rows.toDouble * bytesPerRow / targetBytes).toLong
    math.max(spark.sparkContext.defaultParallelism,
      math.min(byVolume, 1L << 17)).toInt
  }

  /** Run `body` with `spark.sql.shuffle.partitions` set to `n`,
    * restoring the caller's value afterwards. Plans EXECUTED inside
    * `body` (the closure loop's eager per-round localCheckpoints) pick
    * up `n`; lazily-returned frames do not — materialize inside.
    * Session-conf mutation is not thread-safe across concurrently
    * executing queries on the same session; the closure loop runs its
    * rounds serially by construction. */
  def withWidth[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  /** Narrow-coalesce an eagerly-checkpointed LOOP INPUT down to the
    * loop width and re-checkpoint it, freeing the wide original. A loop
    * input (the closure's edge checkpoint) is scanned EVERY round, so
    * its partition count is per-round task overhead even when the
    * round's own exchanges are sized right — a 397-partition edge
    * checkpoint costs 397 scan tasks per round on kilobytes of data.
    * coalesce is narrow (no shuffle); the re-checkpoint is one map job
    * reading the original's cached blocks. No-op when the frame is
    * already at or under the width. */
  def resized(df: org.apache.spark.sql.DataFrame, n: Int)
      : org.apache.spark.sql.DataFrame =
    if (df.rdd.getNumPartitions <= n) df
    else {
      val out = df.coalesce(n).localCheckpoint(true)
      unpersistCheckpoint(df)
      out
    }

  /** Free the block-store copy behind a localCheckpoint'd frame that is
    * provably out of every live lineage (a stale loop round, never read
    * again). Spark WARNs that an unpersisted local checkpoint cannot be
    * recomputed — true and intended here (the frame is dead), so the
    * instance-class logger is lowered to ERROR first to keep job logs
    * meaningful. */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach { r =>
      scala.util.Try(org.apache.logging.log4j.core.config.Configurator.setLevel(
        r.getClass.getName, org.apache.logging.log4j.Level.ERROR))
      r.unpersist(false)
    }
}
