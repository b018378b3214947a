package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.{IngestConfig, TargetTable}
import graft.sink.ParquetTarget

/** Event-time streaming operators — beyond the reference's processing-time
  * lag cycles (SURVEY.md §2.9 lists watermarks/event-time windows as absent
  * there; they are native to Structured Streaming, so the engine exposes
  * them as first-class).
  *
  * Design for scale: a tumbling-window aggregation is a single shuffle on
  * (window, dims) with partial aggregation map-side; the watermark bounds
  * state to windows newer than (max event time - watermark), so state size
  * is O(active windows × dims), independent of stream length. The merged
  * target then holds the complete history — state eviction never loses
  * emitted results because every update is upserted downstream.
  */
object EventTime {

  /** Tumbling event-time aggregation over a (possibly streaming) frame:
    * one row per (window start, dims...) carrying `n_events` and
    * `sum_value` over `valueCol`. The window struct is flattened to epoch
    * micros so results merge/compare cleanly. Works identically on batch
    * and streaming inputs (same code path — the Spark way to verify a
    * streaming pipeline against its batch equivalent). */
  def tumblingAgg(
      src: DataFrame, tsCol: String, valueCol: String,
      windowDuration: String, watermark: String,
      dims: Seq[String]): DataFrame =
    windowedAgg(src, tsCol, valueCol,
      window(col(tsCol), windowDuration), watermark, dims)

  /** Sliding (hopping) event-time aggregation: windows of
    * `windowDuration` every `slideDuration` — each event lands in
    * window/slide overlapping windows (the rolling-metric shape:
    * "daily totals, updated every 12 h"). Same single-shuffle plan as
    * the tumbling form; state grows by the overlap factor (window/slide
    * concurrent windows per dim), still watermark-bounded. */
  def slidingAgg(
      src: DataFrame, tsCol: String, valueCol: String,
      windowDuration: String, slideDuration: String, watermark: String,
      dims: Seq[String]): DataFrame =
    windowedAgg(src, tsCol, valueCol,
      window(col(tsCol), windowDuration, slideDuration), watermark, dims)

  private def windowedAgg(
      src: DataFrame, tsCol: String, valueCol: String,
      win: org.apache.spark.sql.Column, watermark: String,
      dims: Seq[String]): DataFrame =
    src.withWatermark(tsCol, watermark)
      .groupBy(win +: dims.map(col): _*)
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        unix_micros(col("window.start")).as("window_start_us") +:
          dims.map(col) :+ col("n_events") :+ col("sum_value"): _*)

  /** Session-window aggregation — dynamic-gap sessionization as a
    * streaming-capable plan: one session row per (dims..., burst of
    * events with < `gap` inactivity between neighbors), carrying the
    * event count and the min/max event times as epoch micros (the same
    * output shape as the batch sessionizer, so the two verify against
    * each other). Works on batch and streaming frames alike.
    *
    * Scale: state is one in-flight session per (dims, active burst) —
    * the watermark evicts sessions older than the disorder bound, so
    * state is O(active sessions), independent of stream length.
    * Streaming caveat (same as all update-mode aggregation here): a
    * session whose events span micro-batches is re-emitted as it grows,
    * and the downstream merge must key on a SESSION-STABLE column set —
    * (dims, session_start_us) is stable only when each session's
    * earliest event arrives before its later ones (event-time order
    * across batches, trivially true single-batch); otherwise merged
    * sessions can leave a stale shorter-session row behind. */
  def sessionAgg(
      src: DataFrame, tsCol: String, gap: String, watermark: String,
      dims: Seq[String]): DataFrame =
    src.withWatermark(tsCol, watermark)
      .groupBy(dims.map(col) :+ session_window(col(tsCol), gap): _*)
      .agg(
        count(lit(1)).as("n_events"),
        unix_micros(min(col(tsCol))).as("session_start_us"),
        unix_micros(max(col(tsCol))).as("session_end_us"))
      .select(dims.map(col) :+ col("session_start_us") :+
        col("session_end_us") :+ col("n_events"): _*)

  /** DYNAMIC-gap sessionization: each event carries its own inactivity
    * gap (a Column, e.g. shorter for high-intent event types), and
    * Spark's `session_window` merges the per-event intervals
    * [ts, ts+gap] transitively — TOUCHING merges: an event starting
    * exactly at the session's end joins it (observed Spark behavior,
    * spec-locked). Semantically classic interval merging, which is how
    * the DuckDB oracle replays it (running max of interval ends; a
    * session breaks only where an event starts STRICTLY after every
    * predecessor's end). Works batch and streaming; same state/watermark
    * contract as [[sessionAgg]].
    *
    * Emits (dims..., session_start_us, session_end_us, n_events) where
    * `session_end_us` is the merged window end (last event's ts + its
    * gap — the thing the fixed-gap variant reports as max event ts). */
  def sessionAggDynamicGap(
      src: DataFrame, tsCol: String, gapExpr: Column,
      dims: Seq[String]): DataFrame =
    src
      .groupBy(dims.map(col) :+ session_window(col(tsCol), gapExpr): _*)
      .agg(count(lit(1)).as("n_events"))
      .select(dims.map(col) :+
        unix_micros(col("session_window.start")).as("session_start_us") :+
        unix_micros(col("session_window.end")).as("session_end_us") :+
        col("n_events"): _*)
}

/** Streams an UPDATE-mode aggregation into a merge target: each micro-batch
  * emits the aggregates that changed, and the sink upserts them by key with
  * a monotone version column (e.g. the event count — it only grows within a
  * key), making replays idempotent. This composes the engine's two halves:
  * stateful streaming aggregation + latest-wins merge.
  *
  * Convergence caveat: with a watermark, the merged target equals the batch
  * answer ONLY while event-time disorder across micro-batches stays within
  * the watermark — rows arriving later than (max event time - watermark)
  * are dropped from the aggregation state and their contribution never
  * reaches the target. Single-batch sources (e.g. AvailableNow over one
  * file, as in the s1 driver gate) trivially satisfy this; a production
  * stream must size the watermark to its real disorder bound. */
final class AggUpsertStream(
    spark: SparkSession,
    config: IngestConfig,
    target: TargetTable) {

  def run(aggregated: DataFrame): StreamingQuery = runWith(aggregated, None)
  def run(aggregated: DataFrame, trigger: Trigger): StreamingQuery =
    runWith(aggregated, Some(trigger))

  private def runWith(
      aggregated: DataFrame, trigger: Option[Trigger]): StreamingQuery = {
    val sink = new ParquetTarget(spark, target)
    graft.engine.Streams.start(aggregated, config, target.path + "_agg_ckpt",
      trigger, outputMode = Some("update")) {
      (batch: Dataset[Row], _: Long) => sink.mergeUpsert(batch, config)
    }
  }
}
