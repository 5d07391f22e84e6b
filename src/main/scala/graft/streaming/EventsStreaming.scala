package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events stream (new capability;
  * the reference is strictly batch — SURVEY §2.E "Streaming: none").
  *
  * The batch/stream duality is deliberate: [[hourlyAggBatch]] and
  * [[hourlyAggStream]] share the same transformation body, so the
  * DuckDB oracle validates the logic in batch mode while the streaming
  * test exercises watermarks + incremental state on the same files.
  */
object EventsStreaming {

  /** The events fixture has shipped `ts` in two physical encodings
    * across testdata generations: parquet TIMESTAMP(NANOS) — which
    * Spark 4 refuses to read as a timestamp, so it arrives as raw
    * nanos-since-epoch under the session's legacy `nanosAsLong` conf —
    * and plain TIMESTAMP(MICROS), which reads natively. [[readEvents]]
    * probes the file footer once (driver-side schema read, no data
    * scan) and picks the matching path; applying the nanos fix to a
    * micros file would compress the whole time axis 1000×.
    *
    * `spark.sql.legacy.parquet.nanosAsLong` is a session-level conf and
    * is set ONCE at session construction by every entry point that owns
    * a session (Main, Verify, TestSpark) — never flipped inside a
    * query/operator body, which would be racy under concurrent use and
    * surprising to callers reading other nanos parquet mid-session. */
  val eventsSchemaRaw: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Schema for fixtures whose `ts` is a native parquet timestamp. */
  val eventsSchemaTs: StructType = StructType(
    eventsSchemaRaw.fields.map(f =>
      if (f.name == "ts") f.copy(dataType = TimestampType) else f))

  private def nanosToTs(df: DataFrame): DataFrame =
    df.withColumn("ts", timestamp_micros(expr("ts div 1000")))

  /** Footer-probe: does this fixture's `ts` arrive as a raw long
    * (TIMESTAMP(NANOS) under nanosAsLong) rather than a timestamp? */
  private def tsIsRawLong(spark: SparkSession, path: String,
                          glob: Option[String] = None): Boolean = {
    val r = glob.foldLeft(spark.read)((r, g) => r.option("pathGlobFilter", g))
    r.parquet(path).schema("ts").dataType == LongType
  }

  /** Batch read of the events fixture, ts normalized to a timestamp. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    if (tsIsRawLong(spark, path))
      nanosToTs(spark.read.schema(eventsSchemaRaw).parquet(path))
    else spark.read.schema(eventsSchemaTs).parquet(path)
  }

  /** Streaming read of an events fixture directory with the same
    * encoding probe as [[readEvents]] (the probe is a batch footer
    * read; the returned frame is the stream). */
  private def readEventsStream(spark: SparkSession, dir: String,
                               glob: String): DataFrame = {
    val base = spark.readStream
    if (tsIsRawLong(spark, dir, Some(glob)))
      nanosToTs(base.schema(eventsSchemaRaw)
        .option("pathGlobFilter", glob).parquet(dir))
    else base.schema(eventsSchemaTs)
      .option("pathGlobFilter", glob).parquet(dir)
  }

  /** Shared transformation: tumbling 1h window per event_type. Sums go
    * through DECIMAL(18,4) for cross-engine exactness (values are 2dp). */
  def hourlyAgg(events: DataFrame): DataFrame = {
    val dec = DecimalType(18, 4)
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(dec)).cast("double").as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  def hourlyAggBatch(spark: SparkSession, dir: String): DataFrame =
    hourlyAgg(readEvents(spark, dir))

  /** Hopping (sliding) windows: 1-hour windows advancing every
    * `slide` — each event lands in size/slide windows, the standard
    * trailing-rate shape ("events per hour, updated every 15
    * minutes"). Same body batch or stream; the oracle replays the
    * window replication as a cross join with the offset list. */
  def slidingAgg(events: DataFrame, size: String = "1 hour",
                 slide: String = "15 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), size, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"))

  /** Streaming flavor of [[slidingAgg]] (watermark + append mode). */
  def slidingAggStream(spark: SparkSession, dir: String,
                       queryName: String = "events_sliding"): StreamingQuery = {
    val events = readEventsStream(spark, dir, "events.parquet")
    slidingAgg(events.withWatermark("ts", "10 minutes"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming flavor: file source + 10-minute watermark on the event
    * time; append mode emits a window once the watermark passes it. */
  def hourlyAggStream(spark: SparkSession, dir: String,
                      queryName: String = "events_hourly"): StreamingQuery = {
    // the file stream source needs a directory; glob-filter to the fixture
    val events = readEventsStream(spark, dir, "events.parquet")
    hourlyAgg(events.withWatermark("ts", "10 minutes"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Per-hour distinct-user estimate via the mergeable KMV sketch
    * ([[graft.operators.DistinctSketch]]) — COUNT(DISTINCT) is not
    * allowed in streaming aggregations (unbounded per-window state);
    * the bottom-k sketch is, because its state is ≤ k longs per window
    * no matter how many users arrive. Same body batch or stream. */
  def hourlyDistinctUsers(events: DataFrame, k: Int = 16): DataFrame = {
    import graft.operators.DistinctSketch
    events
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(DistinctSketch.sketch(col("user_id"), k).as("sk"))
      .select(col("w.start").as("hour_start"),
        DistinctSketch.estimate(col("sk"), k).as("distinct_users_est"))
  }

  /** Streaming flavor of [[hourlyDistinctUsers]]: the sketch buffer
    * serializes through the state store between micro-batches. */
  def hourlyDistinctUsersStream(spark: SparkSession, dir: String,
                                queryName: String = "events_distinct",
                                k: Int = 16): StreamingQuery = {
    val events = readEventsStream(spark, dir, "events.parquet")
    hourlyDistinctUsers(events.withWatermark("ts", "10 minutes"), k)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Sessionization: gap-based sessions per user via the SQL
    * session_window — stateful streaming-native semantics, expressed the
    * same way in batch. */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("s.start").as("session_start"),
        col("n_events"), col("first_ts"), col("last_ts"))

  /** Streaming sessionization: same body as [[sessions]], with a
    * watermark bounding session state; append mode emits a session once
    * the watermark passes its close. */
  def sessionsStream(spark: SparkSession, dir: String,
                     queryName: String = "events_sessions",
                     gap: String = "30 minutes"): StreamingQuery = {
    val events = readEventsStream(spark, dir, "events.parquet")
    sessions(events.withWatermark("ts", "10 minutes"), gap)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Stream-static enrichment join: attach a slowly-changing dimension
    * (user → segment) to the event stream, then aggregate hourly per
    * segment. The static side is explicitly `broadcast()` — a
    * stream-static join carries NO streaming state (each micro-batch
    * joins against the broadcast table), which is the 100 TB shape: a
    * billion-row/day stream enriched by a dimension that fits in
    * memory, no shuffle of the stream side, no state store growth.
    * Unmatched users land in an explicit 'unknown' segment so the left
    * join's null never propagates into the group key. */
  def enrichedHourly(events: DataFrame, dim: DataFrame): DataFrame = {
    val dec = DecimalType(18, 4)
    events
      .join(broadcast(dim.select(col("user_id").as("__dim_uid"),
        col("segment"))), col("user_id") === col("__dim_uid"), "left")
      .withColumn("segment", coalesce(col("segment"), lit("unknown")))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("segment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(dec)).cast("double").as("sum_value"))
      .select(col("w.start").as("hour_start"), col("segment"),
        col("n_events"), col("sum_value"))
  }

  /** Streaming flavor of [[enrichedHourly]]: the dimension is read as
    * a plain batch frame (re-broadcast per micro-batch by Spark). */
  def enrichedHourlyStream(spark: SparkSession, dir: String, dim: DataFrame,
                           queryName: String = "events_enriched"): StreamingQuery = {
    val events = readEventsStream(spark, dir, "events.parquet")
    enrichedHourly(events.withWatermark("ts", "10 minutes"), dim)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  // ---------------- custom state: threshold crossings ----------------

  final case class Crossing(user_id: Long, crossed_at: java.sql.Timestamp,
                            running_total: Double)

  /** Batch shape: the first event where a user's running `value` total
    * reaches `threshold` — cumulative window sum, one shuffle on user. */
  def thresholdCrossings(events: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("running_total", sum(col("value")).over(w))
      .filter(col("running_total") >= threshold &&
        col("running_total") - col("value") < threshold)
      .select(col("user_id"), col("ts").as("crossed_at"), col("running_total"))
  }

  /** Streaming shape of [[thresholdCrossings]]: per-user running total
    * kept in [[org.apache.spark.sql.streaming.GroupState]] via
    * flatMapGroupsWithState — the custom-state escape hatch for
    * semantics window functions can't express incrementally. State per
    * user is one double; emission is append-only. */
  def thresholdCrossingsStream(spark: SparkSession, dir: String,
                               threshold: Double,
                               queryName: String = "events_crossings")
      : StreamingQuery = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val events = readEventsStream(spark, dir, "events.parquet")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))

    val typed = events.as[(Long, java.sql.Timestamp, Long, Double)](
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.TIMESTAMP,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble))

    def fn(user: Long,
           rows: Iterator[(Long, java.sql.Timestamp, Long, Double)],
           state: GroupState[Double]): Iterator[Crossing] = {
      var total = state.getOption.getOrElse(0.0)
      val out = scala.collection.mutable.ArrayBuffer.empty[Crossing]
      rows.toSeq.sortBy(r => (r._2.getTime, r._3)).foreach { r =>
        val before = total
        total += r._4
        if (before < threshold && total >= threshold)
          out += Crossing(user, r._2, total)
      }
      state.update(total)
      out.iterator
    }

    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  // ------------------- streaming exact dedup ---------------------------

  /** Streaming exact dedup over a parquet directory of event files:
    * duplicate deliveries (same content hash) within `replayHorizon`
    * drop via `dropDuplicatesWithinWatermark`, keeping the first
    * processed occurrence. State = one (hash, ts) entry per distinct
    * content, evicted once the watermark passes — bounded by the replay
    * horizon, not the stream length. Batch twin (what the oracle
    * checks): [[graft.llm.Dedup.firstOccurrence]] — equivalent ONLY for
    * replays arriving within the horizon; a replay later than
    * `replayHorizon` after its original is re-emitted by the stream
    * (state already evicted) but still dropped by the batch pass, so
    * size the horizon to the pipeline's actual redelivery window.
    *
    * `contentCols` defines identity; the hash is the same structural
    * `to_json(struct)` encoding as the batch dedups, so cross-column
    * collisions are impossible. */
  def dedupStream(spark: SparkSession, dir: String,
                  contentCols: Seq[String],
                  queryName: String = "events_dedup",
                  glob: String = "*.parquet",
                  replayHorizon: String = "1 hour"): StreamingQuery = {
    val events = readEventsStream(spark, dir, glob)
    // prefixed working column + the SHARED hash definition (batch/stream
    // hash parity is the tested contract; see Dedup.contentHash)
    val hc = "__graft_dedup_h"
    events
      .withColumn(hc, graft.llm.Dedup.contentHash(contentCols))
      .withWatermark("ts", replayHorizon)
      .dropDuplicatesWithinWatermark(hc)
      .drop(hc)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Typed access to the JSON `props` sidecar: per-type stats over an
    * extracted numeric field (the DataType::Json story mapped to
    * get_json_object — parse on demand, StringType at rest). */
  def propsStats(events: DataFrame, field: String = "k"): DataFrame =
    events
      .withColumn("_v", get_json_object(col("props"), s"$$.$field").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(col("_v")).as("n_with_field"),
        sum(col("_v")).as(s"sum_$field"),
        min(col("_v")).as(s"min_$field"),
        max(col("_v")).as(s"max_$field"))

  // ------------- stream-stream join: click→purchase attribution -------------

  /** Click→purchase attribution pairs: every (click, purchase) of the
    * same user where the click happened within `lookback` BEFORE the
    * purchase (inclusive of the purchase instant). The join is an
    * equi-join on user_id plus a bounded time-range predicate — the
    * canonical stream-stream interval-join shape: at 100 TB the stream
    * shuffles once on user_id and the range bound is what lets the
    * streaming runtime evict state (a click older than the watermark
    * minus `lookback` can never match a future purchase).
    *
    * Takes the two sides as frames so the SAME body serves batch (two
    * filters of one batch read) and streaming (two watermarked filters
    * of one file stream — a stream-stream self join). */
  def attributionPairs(clicks: DataFrame, purchases: DataFrame,
                       lookback: String = "1 hour"): DataFrame =
    clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $lookback"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("purchase_value"))

  /** The two filtered projections [[attributionPairs]] joins. */
  private def attributionSides(events: DataFrame): (DataFrame, DataFrame) = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    (clicks, purchases)
  }

  def attributionBatch(spark: SparkSession, dir: String,
                       lookback: String = "1 hour"): DataFrame = {
    val (c, p) = attributionSides(readEvents(spark, dir))
    attributionPairs(c, p, lookback)
  }

  /** Streaming flavor: a stream-stream SELF join (two filtered views of
    * one file stream). Both sides carry a watermark — required for the
    * runtime to bound join state; the interval predicate tells it a
    * click's liability window is `lookback`, after which its state row
    * is evicted. Inner join + append mode: a pair emits as soon as both
    * sides have arrived. */
  def attributionStream(spark: SparkSession, dir: String,
                        lookback: String = "1 hour",
                        queryName: String = "events_attribution")
      : StreamingQuery = {
    val events = readEventsStream(spark, dir, "events.parquet")
    val (c, p) = attributionSides(events)
    attributionPairs(
        c.withWatermark("click_ts", "10 minutes"),
        p.withWatermark("purchase_ts", "10 minutes"), lookback)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
