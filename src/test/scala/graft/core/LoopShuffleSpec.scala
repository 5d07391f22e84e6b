package graft.core

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}

class LoopShuffleSpec extends SparkSpec {
  import spark.implicits._

  test("width: 64 MiB target, core floor, runaway cap") {
    val floor = spark.sparkContext.defaultParallelism
    // tiny rounds floor at the core count — never 1-partition rounds
    assert(LoopShuffle.width(spark, rows = 100, bytesPerRow = 24) == floor)
    assert(LoopShuffle.width(spark, rows = 0, bytesPerRow = 24) == floor)
    // one partition per ~64 MiB of round volume
    val rows = (300L << 20) / 24 // 300 MiB of 24-byte rows
    assert(LoopShuffle.width(spark, rows, 24) == math.max(floor, 5))
    // the cap bounds a runaway estimate
    assert(LoopShuffle.width(spark, Long.MaxValue / 32, 24) == (1 << 17))
    intercept[IllegalArgumentException](LoopShuffle.width(spark, -1, 24))
    intercept[IllegalArgumentException](LoopShuffle.width(spark, 10, 0))
  }

  test("withWidth sets the conf for the body and restores it — " +
      "including on exception") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val seen = LoopShuffle.withWidth(spark, 7)(spark.conf.get(key))
    assert(seen == "7" && spark.conf.get(key) == before)
    intercept[RuntimeException](
      LoopShuffle.withWidth(spark, 9)(throw new RuntimeException("boom")))
    assert(spark.conf.get(key) == before)
  }

  /** Stage task counts observed while `body` runs. */
  private def stageTaskCounts(body: => Unit): Seq[Int] = {
    val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        counts.synchronized { counts += s.stageInfo.numTasks }
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(300) } // let the async listener bus drain
    finally spark.sparkContext.removeSparkListener(listener)
    counts.synchronized { counts.toSeq }
  }

  test("closure loop rounds run at the measured width, not the session " +
      "shuffle conf (SCALING.md round-10 finding 2)") {
    // AQE coalescing would mask the distinction (it shrinks every small
    // exchange), so pin it off for the observation
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try LoopShuffle.withWidth(spark, 397) { // absurd session width
      // a diameter-8 chain forces >= 3 pointer-jump rounds
      val ids = (0L to 8L).toDF("id")
      val pairs = (0L until 8L).map(i => (i, i + 1))
        .toDF("id_a", "id_b")
      val counts = stageTaskCounts {
        val out = graft.llm.Dedup.convergeCanonicals(ids, pairs, "id")
          .collect()
        assert(out.forall(_.getLong(1) == 0L), "one chain, canonical 0")
      }
      // loop rounds sized from the measured (tiny) edge volume run at
      // the core floor; only the handful of stages OUTSIDE the loop
      // (the final ids join runs under the caller's conf) may carry
      // the session width. Without the loop sizing, EVERY round stage
      // would run 397 tasks and this count explodes.
      val at397 = counts.count(_ == 397)
      val atFloor = counts.count(_ <= spark.sparkContext.defaultParallelism)
      assert(at397 <= 4, s"too many session-width stages: $counts")
      assert(atFloor >= 6, s"expected the rounds at the core floor: $counts")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
