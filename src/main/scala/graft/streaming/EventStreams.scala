package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.expressions.GraftFunctions

/** Structured-Streaming operators over the events table shape
  * (event_id, ts, user_id, event_type, value, props). The reference has no
  * true streaming (SURVEY.md §2.12) — its closest analog is checkpointed
  * incremental batch — so these are new capability, spec'd from the Spark
  * Structured Streaming API.
  *
  * Design rule: every transform is a pure DataFrame => DataFrame usable in
  * BOTH batch and streaming (the Spark unified-engine contract), so the
  * batch DuckDB oracle validates the same expression the stream runs.
  * Watermarks bound state at scale: without one, windowed state grows
  * unboundedly on a 100 TB/day stream.
  */
object EventStreams {

  /** The ns-Long flavor of the events schema — the fixture-writing shape
    * (tests that synthesize epoch-ns frames). Real directories may instead
    * carry `ts` as TIMESTAMP(MICROS); [[readEventStream]] reads the actual
    * footer schema rather than pinning this one.
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // ns since epoch (parquet TIMESTAMP(NANOS) read raw)
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Normalize `ts` (epoch-ns Long OR TIMESTAMP[_NTZ], whichever the file
    * carries) to canonical ns-Long `ts` + TimestampType `event_time` —
    * single implementation in [[graft.sources.Tables.withEventTime]] so a
    * testdata re-encoding is absorbed in exactly one place.
    */
  def withEventTime(df: DataFrame): DataFrame =
    graft.sources.Tables.withEventTime(df)

  /** File-based stream over a DIRECTORY of events parquet files (file
    * stream sources watch directories, not single files) — the test/demo
    * source; in production this would be Kafka with the same downstream.
    * File streams require a pinned schema; pin the one the directory's
    * files ACTUALLY carry (one batch footer read at stream start) instead
    * of assuming a physical ts encoding.
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    val actual = spark.read.parquet(dir).schema
    withEventTime(spark.readStream.schema(actual).parquet(dir))
  }

  /** Tumbling-window counts/sums per event type, 10-minute watermark.
    * Works identically on a batch frame (watermark is a no-op there).
    */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding windows (1h length, 15m slide). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("n_events"))

  /** Session windows per user with a 30-minute inactivity gap — built-in
    * session_window, state bounded by the watermark.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("event_time", "10 minutes")
      .groupBy(session_window(col("event_time"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start_ns"))
      .select(col("user_id"), col("session_start_ns"), col("n_events"))

  /** Stream-stream interval join (purchase attribution): each purchase
    * joins the SAME user's view events from the preceding `lookback`.
    * In streaming this plans as a symmetric hash join keyed on user_id;
    * the time-range condition plus both watermarks is what lets Spark
    * EVICT join state — without the bound, both sides buffer forever on
    * a 100 TB/day stream. As a batch frame the same expression is a
    * plain equi-join on user_id + a range filter (never a cartesian:
    * user_id is the equality key), which is what the DuckDB oracle
    * replays (q48). Output: one row per (purchase, view-in-window) pair.
    */
  /** `joinType = "left_outer"` keeps UNattributed purchases as rows
    * with a null `view_id` — the conversion-WITHOUT-marketing-touch
    * question attribution dashboards ask next; streaming outer interval
    * joins emit the null side once the watermark closes the lookback
    * window (both sides are watermarked here for exactly that).
    */
  def purchaseAttribution(events: DataFrame, lookback: String = "30 minutes",
                          joinType: String = "inner"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_time").as("view_time"),
        col("event_id").as("view_id"))
      .withWatermark("view_time", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_time").as("purchase_time"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_time", "1 hour")
    purchases.join(views,
        col("p_user") === col("v_user") &&
          col("view_time") <= col("purchase_time") &&
          col("view_time") >= col("purchase_time") - expr(s"INTERVAL $lookback"),
        joinType)
      .select(col("purchase_id"), col("view_id"), col("p_user").as("user_id"),
        col("value"))
  }

  /** Custom per-key state: running count + max value per user via
    * mapGroupsWithState — the escape hatch for state machines the built-in
    * windows can't express. ProcessingTimeTimeout keeps state bounded.
    */
  case class UserAgg(userId: Long, nEvents: Long, maxValue: Double)

  def statefulUserAgg(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserAgg, UserAgg](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(uid, 0L, Double.MinValue))
          val (n, mx) = rows.foldLeft((prev.nEvents, prev.maxValue)) {
            case ((c, m), (_, v)) => (c + 1, math.max(m, v))
          }
          val next = UserAgg(uid, n, mx)
          state.update(next)
          next
      }
      .toDF()
  }

  /** A closed session emitted by [[customSessions]]. */
  case class ClosedSession(userId: Long, sessionStartUs: Long,
                           sessionEndUs: Long, nEvents: Long)

  /** In-flight session state ([[customSessions]]); public — encoder
    * codegen must construct it from generated classes in other packages.
    */
  case class OpenSession(startUs: Long, lastUs: Long, n: Long)

  /** Custom sessionization via flatMapGroupsWithState with EVENT-TIME
    * timeouts — the state-machine escape hatch for semantics
    * `session_window` can't express; here: a session also force-closes
    * when it exceeds `maxDurationMinutes` (bot-filtering style), not just
    * on inactivity. Closed sessions stream out as soon as they are
    * decidable; the open tail per user sits in state bounded by the
    * watermark, emitted when the event-time timeout fires.
    */
  def customSessions(events: DataFrame, gapMinutes: Int,
                     maxDurationMinutes: Int): org.apache.spark.sql.Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val maxUs = maxDurationMinutes * 60L * 1000000L

    def split(times: Seq[Long], carry: Option[OpenSession]): (Seq[OpenSession], Option[OpenSession]) = {
      var closed = Vector.empty[OpenSession]
      var open = carry
      times.sorted.foreach { t =>
        open match {
          case Some(s) if t - s.lastUs < gapUs && t - s.startUs < maxUs =>
            open = Some(s.copy(lastUs = t, n = s.n + 1))
          case Some(s) =>
            closed :+= s
            open = Some(OpenSession(t, t, 1))
          case None =>
            open = Some(OpenSession(t, t, 1))
        }
      }
      (closed, open)
    }

    def toUs(t: java.sql.Timestamp): Long =
      (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L

    events
      .withWatermark("event_time", "10 minutes")
      // the watermarked COLUMN itself must reach the stateful operator —
      // any projection/map that drops it breaks event-time timeouts
      .select(col("user_id"), col("event_time"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout()) {
        case (uid, rows, state) =>
          if (state.hasTimedOut) {
            // watermark passed the open session's horizon: emit and clear
            val s = state.get
            state.remove()
            Iterator(ClosedSession(uid, s.startUs, s.lastUs, s.n))
          } else {
            val (closed, open) = split(rows.map(r => toUs(r._2)).toSeq, state.getOption)
            open match {
              case Some(s) =>
                state.update(s)
                // close on inactivity gap OR the remaining duration budget
                val horizon = math.min(s.lastUs + gapUs, s.startUs + maxUs)
                state.setTimeoutTimestamp(horizon / 1000L) // ms
              case None => state.remove()
            }
            closed.iterator.map(s => ClosedSession(uid, s.startUs, s.lastUs, s.n))
          }
      }
  }

  /** Stream-static enrichment join: every micro-batch joins against a
    * bounded static dimension (broadcast — stateless, no watermark
    * needed; the static side is re-broadcast per batch if its underlying
    * source changes). The streaming face of the q03-style star join:
    * same plan shape, unbounded fact side.
    */
  def enrichWithStatic(events: DataFrame, dim: DataFrame,
                       keys: Seq[String]): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), keys, "left")

  /** Streaming exact dedup on `keys` with bounded state:
    * `dropDuplicatesWithinWatermark` keeps a key's fingerprint only until
    * the watermark passes it, so state is O(keys-per-watermark-window),
    * not O(all keys ever) — the only shape that survives an unbounded
    * 100 TB/day stream (plain streaming `dropDuplicates` never evicts).
    * Contract: duplicates arriving within the watermark delay of the
    * first occurrence are dropped; a duplicate arriving later than the
    * delay MAY reappear — the deliberate trade for bounded state
    * (matching at-least-once upstream delivery, where redeliveries are
    * prompt). First-occurrence-wins; batch dedup (Dedup.exactDedup) is
    * the exact companion for bounded backfills.
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("event_time", delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming heavy hitters: the Misra–Gries sketch
    * ([[graft.expressions.MisraGries]]) as a windowed streaming
    * aggregate — per event-time window, the ≤ `capacity` candidate
    * heavy items among a column's values. The aggregate's partial
    * buffers merge associatively, which is exactly the property the
    * streaming state store needs: each micro-batch folds its rows into
    * the window's stored buffer (update mode emits refreshed sketches
    * as batches arrive); state per window is ≤ capacity counters — hard
    * memory bound no matter the item domain, the reason to sketch in a
    * stream at all. Watermark bounds which windows stay live.
    */
  def windowedHeavyHitters(events: DataFrame, itemCol: String,
                           window_ : String = "1 hour", capacity: Int = 8,
                           delay: String = "10 minutes"): DataFrame = {
    events
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), window_))
      .agg(GraftFunctions.call("misra_gries", col(itemCol), lit(capacity)).as("heavy"))
      .select(col("window.start").as("window_start"), col("heavy"))
  }

  /** Streaming EXACT distinct-by-window: the roaring bitmap aggregate
    * ([[graft.expressions.BitmapBuildAgg]]) as a watermarked windowed
    * streaming aggregate — per event-time window, the exact distinct
    * count of a key column plus the sketch itself (so a downstream
    * batch rollup can union windows without re-reading the stream —
    * the streaming half of [[graft.operators.Sketches]]' sketch-table
    * pattern). Partial buffers merge associatively in the state store
    * exactly like [[windowedHeavyHitters]]' MG sketch; state per
    * window is one bitmap — KBs on integer-dense key domains — and the
    * answer is exact, which approx_count_distinct in a stream is not.
    * Watermark bounds which windows stay live.
    */
  def windowedDistinct(events: DataFrame, keyCol: String,
                       window_ : String = "1 hour",
                       delay: String = "10 minutes"): DataFrame = {
    events
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), window_))
      .agg(GraftFunctions.call("bitmap_build", col(keyCol)).as("sketch"))
      .select(col("window.start").as("window_start"),
        GraftFunctions.call("bitmap_cardinality", col("sketch")).as("n_distinct"),
        col("sketch"))
  }

  /** Streaming APPROXIMATE distinct-by-window at constant state: the
    * KMV aggregate ([[graft.expressions.KmvBuildAgg]]) per event-time
    * window — the unbounded-key-domain companion to
    * [[windowedDistinct]]'s exact bitmap (whose state grows with the
    * key set; a KMV window is ≤ k hashes forever). Partial buffers
    * merge associatively in the state store; the sketch rides along
    * for downstream batch rollups AND set algebra — window-over-window
    * retention/churn straight off the emitted sketches via
    * `kmv_and_cardinality` / `kmv_andnot_cardinality`, which HLL
    * windows cannot do. Estimates are exact below k.
    */
  def windowedDistinctApprox(events: DataFrame, keyCol: String,
                             window_ : String = "1 hour",
                             delay: String = "10 minutes",
                             k: Int = 1024): DataFrame = {
    events
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), window_))
      .agg(GraftFunctions.call("kmv_build", col(keyCol), lit(k)).as("sketch"))
      .select(col("window.start").as("window_start"),
        GraftFunctions.call("kmv_cardinality", col("sketch")).as("approx_distinct"),
        col("sketch"))
  }

  /** Streaming windowed quantiles: the DDSketch aggregate
    * ([[graft.expressions.DDSketchAgg]]) per event-time window —
    * p50/p95/p99 of a value column with the α relative-error guarantee,
    * state per window one bounded bin histogram merged bin-wise across
    * micro-batches. The sketch rides along for downstream batch
    * rollups, mirroring [[windowedDistinct]].
    */
  def windowedQuantiles(events: DataFrame, valueCol: String,
                        window_ : String = "1 hour",
                        delay: String = "10 minutes",
                        alpha: Double = 0.01): DataFrame = {
    events
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), window_))
      .agg(GraftFunctions.call("ddsketch_build",
        col(valueCol).cast("double"), lit(alpha)).as("sketch"))
      .select(col("window.start").as("window_start"),
        GraftFunctions.call("ddsketch_quantile", col("sketch"), lit(0.5)).as("p50"),
        GraftFunctions.call("ddsketch_quantile", col("sketch"), lit(0.95)).as("p95"),
        GraftFunctions.call("ddsketch_quantile", col("sketch"), lit(0.99)).as("p99"),
        col("sketch"))
  }

  /** Idempotent foreachBatch parquet sink: each micro-batch lands in its
    * own `batch_<id>` directory, committed by writing a marker AFTER the
    * data; a redelivered batch id (failure between sink write and
    * checkpoint commit — the at-least-once window) is skipped, giving
    * end-to-end exactly-once for this sink. Returns the writer function
    * for `df.writeStream.foreachBatch(...)`.
    */
  def exactlyOnceParquetSink(basePath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val dir = new org.apache.hadoop.fs.Path(s"$basePath/batch_$batchId")
      val marker = new org.apache.hadoop.fs.Path(s"$basePath/batch_$batchId/_COMMITTED")
      val fs = dir.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
      if (fs.exists(marker)) {
        // redelivery after a partial failure: the batch is already durable
      } else {
        batch.write.mode("overwrite").parquet(dir.toString)
        fs.create(marker, true).close()
      }
  }

  /** Run a streaming frame to completion against a bounded file source and
    * return the final result from the in-memory sink (test/demo helper —
    * production uses a real sink with checkpointing).
    */
  def runToMemory(spark: SparkSession, streamed: DataFrame, name: String,
                  outputMode: OutputMode = OutputMode.Complete()): DataFrame = {
    val q = streamed.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }
}
