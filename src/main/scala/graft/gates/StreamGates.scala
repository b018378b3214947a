package graft.gates

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry._
import graft.engine.UpsertStream
import graft.functions.{OracleSql, TextHash}
import graft.ops.TextAnalysis.LangProfiles
import graft.model.{IngestConfig, TargetTable}
import graft.multimodal.Multimodal
import graft.ops.{BatchSplit, Dedup, Html, NearDup, Similarity, TextAnalysis}
import graft.sink.Merge
import graft.gates.GateOracleShared._

/** Structured-Streaming gates: micro-batch ingest/agg/join/dedup pipelines (s*, o4).
  *
  * Split from the monolithic SparkEntry registry (r10); see
  * [[graft.SparkEntry]] for the oracle-safety conventions and the
  * duplicate-refusing merge. Shared oracle CTEs live in
  * [[GateOracleShared]]. */
private[graft] object StreamGates {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- O4+O5+O10+O11: the streaming engine end-to-end ----
    // Runs the actual UpsertStream (Structured Streaming + foreachBatch +
    // broadcast merge) over the events file and returns the final target
    // state; the oracle is the global latest-wins dedup, proving the
    // incremental merge converges to it.
    "o4_stream_ingest_e2e" -> ((s, dir) => {
      val tmp = stableTmp("o4")
      val target = TargetTable("events_state", s"$tmp/target",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4)
      val cfg = IngestConfig(name = s"o4-e2e-${System.nanoTime()}",
        maxWriterPartitions = 4, checkpointDir = Some(s"$tmp/ckpt"))
      // File-stream the events table via the rate-limited source helper;
      // glob form because the source path is a single parquet file, not a
      // directory.
      val src = eventsStream(s, cfg, dir)
        .select(
          col("user_id").as("pkey"), expr("ts div 1000").as("modified_date_us"),
          col("event_id"), col("event_type"), col("value"))
      val q = new UpsertStream(s, cfg, target).run(src, Trigger.AvailableNow())
      q.awaitTermination()
      stateOut(new graft.sink.ParquetTarget(s, target).read().get)
    }),

    // ---- O11 superset: kill-and-resume exactly-once from the SAME
    //      checkpoint — the restart story the reference lacks entirely
    //      (quick_stream `src/shutdown_service.rs:5-52` can only cancel
    //      in-flight work and drain; whatever the channel held is gone).
    //      Run 1 ingests one-file-per-trigger micro-batches and is
    //      stopped the moment batch 0's commit is visible — MID-STREAM,
    //      a second file pending; a THIRD file then arrives while the
    //      engine is down; run 2 restarts a NEW query on the SAME
    //      checkpoint dir and drains with AvailableNow. The final target
    //      must equal the global latest-wins state of an uninterrupted
    //      run (o4's oracle): offsets resume, committed batches are not
    //      re-read, and the latest-wins merge absorbs any in-flight
    //      batch the stop interrupted (replay-idempotence, the o5c
    //      property, here exercised across a real restart). Bench reps
    //      2+ skip the kill dance (checkpoint already committed) and
    //      time the no-op resume, like every streaming gate.
    //      Deterministic crash-point injection (data committed, offset
    //      not) lives in RestartResumeSpec. ----
    "o38_restart_resume" -> ((s, dir) => {
      import scala.jdk.CollectionConverters._
      val tmp = stableTmp("o38")
      val target = TargetTable("events_restart", s"$tmp/target",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4)
      val ckpt = s"$tmp/ckpt"
      val srcDir = java.nio.file.Paths.get(tmp, "src")
      val schema = eventRecords(s, dir).schema
      def oneFile(part: Int, name: String): Unit = {
        val stage = s"$tmp/stage_$name"
        eventRecords(s, dir).filter(col("pkey") % 3 === part)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        Files.createDirectories(srcDir)
        val p = Files.list(java.nio.file.Paths.get(stage))
          .iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(p, srcDir.resolve(name))
      }
      def stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      val alreadyCommitted =
        Files.exists(java.nio.file.Paths.get(ckpt, "commits", "0"))
      if (!alreadyCommitted) {
        oneFile(0, "f0.parquet"); oneFile(1, "f1.parquet")
        val cfg1 = IngestConfig(name = s"o38-a-${System.nanoTime()}",
          maxWriterPartitions = 4, checkpointDir = Some(ckpt))
        val q1 = new UpsertStream(s, cfg1, target)
          .run(stream, Trigger.ProcessingTime(10L))
        val deadline = System.nanoTime() + 300L * 1000L * 1000L * 1000L
        while (!q1.recentProgress.exists(_.numInputRows > 0) &&
            q1.isActive && System.nanoTime() < deadline) Thread.sleep(25)
        q1.stop()
        oneFile(2, "f2.parquet") // late data while the engine is down
      }
      val cfg2 = IngestConfig(name = s"o38-b-${System.nanoTime()}",
        maxWriterPartitions = 4, checkpointDir = Some(ckpt))
      val q2 = new UpsertStream(s, cfg2, target)
        .run(stream, Trigger.AvailableNow())
      q2.awaitTermination()
      stateOut(new graft.sink.ParquetTarget(s, target).read().get)
    }),

    // ---- O11 superset, STATE-STORE edition: kill-and-resume of a
    //      WINDOWED AGGREGATION — o38 proves file-offset recovery; the
    //      stateful operator surface (HDFSBackedStateStore reload of
    //      per-window counts + the restored watermark) is a different
    //      recovery path entirely, exercised here: run 1 aggregates
    //      batch 0 and is stopped mid-stream with a file pending, late
    //      data arrives while the engine is down, run 2 resumes the
    //      SAME checkpoint — the reloaded window state must keep
    //      accumulating to the exact batch aggregate (s1's oracle).
    //      Bench reps 2+ skip the kill dance like every streaming gate. ----
    "s33_stream_agg_restart" -> ((s, dir) => {
      import scala.jdk.CollectionConverters._
      val tmp = stableTmp("s33")
      val target = TargetTable("events_agg_restart", s"$tmp/target",
        keyCols = Seq("window_start_us", "event_type"),
        versionCol = "n_events", buckets = 4)
      val ckpt = s"$tmp/ckpt"
      val srcDir = java.nio.file.Paths.get(tmp, "src")
      val schema = eventRecords(s, dir).schema
      // Phase by TIME tertiles, not keys: each later file is strictly
      // newer, so the watermark RESTORED from the checkpoint (global
      // max of the committed batch − 48 h) can never classify a
      // pending file's rows as late — the restart exercises state
      // reload, not accidental late-drop (a pkey split silently lost
      // ~40% of rows to the restored watermark; found by the oracle).
      def oneFile(part: Int, name: String): Unit = {
        val stage = s"$tmp/stage_$name"
        val b = eventRecords(s, dir)
          .agg(min(col("modified_date_us")), max(col("modified_date_us")))
          .head()
        val (mn, mx) = (b.getLong(0), b.getLong(1))
        eventRecords(s, dir).filter(
          expr(s"((modified_date_us - ${mn}L) * 3) div ${mx - mn + 1}L")
            === part)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        Files.createDirectories(srcDir)
        val p = Files.list(java.nio.file.Paths.get(stage))
          .iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(p, srcDir.resolve(name))
      }
      def aggStream = {
        val src = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
          .select(timestamp_micros(col("modified_date_us")).as("ts_t"),
            col("event_type"), col("value"))
        graft.streaming.EventTime.tumblingAgg(
          src, "ts_t", "value", "1 day", "48 hours", Seq("event_type"))
      }
      val alreadyCommitted =
        Files.exists(java.nio.file.Paths.get(ckpt, "commits", "0"))
      if (!alreadyCommitted) {
        oneFile(0, "f0.parquet"); oneFile(1, "f1.parquet")
        val cfg1 = IngestConfig(name = s"s33-a-${System.nanoTime()}",
          maxWriterPartitions = 4, checkpointDir = Some(ckpt))
        val q1 = new graft.streaming.AggUpsertStream(s, cfg1, target)
          .run(aggStream, Trigger.ProcessingTime(10L))
        val deadline = System.nanoTime() + 300L * 1000L * 1000L * 1000L
        while (!q1.recentProgress.exists(_.numInputRows > 0) &&
            q1.isActive && System.nanoTime() < deadline) Thread.sleep(25)
        q1.stop()
        oneFile(2, "f2.parquet") // late data while the engine is down
      }
      val cfg2 = IngestConfig(name = s"s33-b-${System.nanoTime()}",
        maxWriterPartitions = 4, checkpointDir = Some(ckpt))
      val q2 = new graft.streaming.AggUpsertStream(s, cfg2, target)
        .run(aggStream, Trigger.AvailableNow())
      q2.awaitTermination()
      new graft.sink.ParquetTarget(s, target).read().get
        .select(col("window_start_us"), col("event_type"),
          col("n_events"), col("sum_value"))
    }),

    // ---- Streaming + storage composition: micro-batched ingest through
    //      an index-maintaining sink — every batch leaves the state
    //      table AND its secondary value index current ----
    "s21_stream_indexed_ingest" -> ((s, dir) => {
      import s.implicits._
      val tmp = stableTmp("s21")
      val target = TargetTable("events_ixd", s"$tmp/t",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4,
        retainVersions = 3)
      val cfg = IngestConfig(name = s"s21-ix-${System.nanoTime()}",
        maxWriterPartitions = 4, checkpointDir = Some(s"$tmp/ckpt"))
      val pt = new graft.sink.ParquetTarget(s, target)
      val idx = new graft.sink.ValueIndex(s, pt, "event_type",
        s"$tmp/ix", buckets = 8)
      val sink = new graft.sink.IndexedParquetSink(s, pt, idx)
      val src = eventsStream(s, cfg, dir).select(
        col("user_id").as("pkey"),
        expr("ts div 1000").as("modified_date_us"),
        col("event_id"), col("event_type"), col("value"))
      val q = new UpsertStream(cfg, sink, s"$tmp/ckpt")
        .run(src, Trigger.AvailableNow())
      q.awaitTermination()
      stateOut(idx.lookupEq(Seq("purchase").toDF("ival")))
    }),

    // ---- Streaming + storage composition: micro-batched ingest
    //      through a BLOOM-maintaining sink — every batch leaves the
    //      state table AND its data-skipping sidecar current; the
    //      final probe prunes buckets through the freshly-synced bloom ----
    "s28_stream_bloom_ingest" -> ((s, dir) => {
      val tmp = stableTmp("s28")
      val target = TargetTable("events_bxd", s"$tmp/t",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 8,
        retainVersions = 3)
      val cfg = IngestConfig(name = s"s28-bx-${System.nanoTime()}",
        maxWriterPartitions = 4, checkpointDir = Some(s"$tmp/ckpt"))
      val pt = new graft.sink.ParquetTarget(s, target)
      val bx = new graft.sink.BloomIndex(s, pt, "event_type", s"$tmp/bx")
      val sink = new graft.sink.BloomIndexedSink(pt, bx)
      val src = eventsStream(s, cfg, dir).select(
        col("user_id").as("pkey"),
        expr("ts div 1000").as("modified_date_us"),
        col("event_id"), col("event_type"), col("value"))
      val q = new UpsertStream(cfg, sink, s"$tmp/ckpt")
        .run(src, Trigger.AvailableNow())
      q.awaitTermination()
      stateOut(bx.lookupEq("purchase"))
    }),

    // ---- Streaming DELETE via deletion vectors: each micro-batch's
    //      keys mark positions in the sidecar — zero-rewrite deletes
    //      decoupled from row width; soft/hard's merge-on-read third ----
    "s22_stream_vectored_delete" -> ((s, dir) => {
      // NOT stableTmp: the gate's batch pre-upsert is replayed on every
      // invocation, resurrecting rep 1's vector-deleted keys while the
      // RESUMED delete stream (nothing new to process) cannot re-delete
      // them — the one streaming gate whose semantics need a fresh dir
      // (a second run in one JVM returned a different result).
      val tmp = Files.createTempDirectory("graft_s22_").toString
      val target = TargetTable("events_vdel", s"$tmp/target",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4)
      val cfg = IngestConfig(name = s"s22-vdel-${System.nanoTime()}",
        maxWriterPartitions = 4, checkpointDir = Some(s"$tmp/ckpt"))
      val pt = new graft.sink.ParquetTarget(s, target)
      pt.mergeUpsert(eventRecords(s, dir), cfg)
      val delSrc = eventsStream(s, cfg, dir)
        .filter(col("event_type") === "error" && col("user_id") % 3 === 0)
        .select(col("user_id").as("pkey"))
      val q = new graft.engine.VectoredDeleteStream(s, cfg, target)
        .run(delSrc, Trigger.AvailableNow())
      q.awaitTermination()
      stateOut(pt.read().get)
    }),

    // ---- Event-time streaming: windowed agg + watermark, merged sink ----
    // Update-mode tumbling windows flow through the latest-wins merge
    // (version = the monotone event count), so the final target equals the
    // batch aggregate regardless of micro-batching — the engine's
    // beyond-reference streaming surface (SURVEY.md §2.9 watermark row).
    "s1_stream_window_agg" -> ((s, dir) => {
      val tmp = stableTmp("s1")
      val target = TargetTable("events_windows", s"$tmp/target",
        keyCols = Seq("window_start_us", "event_type"), versionCol = "n_events",
        buckets = 4)
      val cfg = IngestConfig(name = s"s1-window-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .select(
          timestamp_micros(expr("ts div 1000")).as("ts_t"),
          col("event_type"), col("value"))
      val agg = graft.streaming.EventTime.tumblingAgg(
        src, "ts_t", "value", "1 day", "48 hours", Seq("event_type"))
      val q = new graft.streaming.AggUpsertStream(s, cfg, target)
        .run(agg, Trigger.AvailableNow())
      q.awaitTermination()
      new graft.sink.ParquetTarget(s, target).read().get
        .select(col("window_start_us"), col("event_type"),
          col("n_events"), col("sum_value"))
    }),

    // ---- Streaming quantile sketch: daily per-type decimal-bucket
    //      sketches as ONE watermarked streaming aggregate (bounded
    //      state per window: the bucket map), estimates computed on
    //      the completed windows — percentiles over a stream without
    //      ever holding the stream ----
    "s13_stream_quantile" -> ((s, dir) => {
      val tmp = stableTmp("s13")
      val target = TargetTable("events_qsketch", s"$tmp/target",
        keyCols = Seq("window_start_us", "event_type", "qbucket"),
        versionCol = "qcnt", buckets = 4)
      val cfg = IngestConfig(name = s"s13-quantile-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .select(
          timestamp_micros(expr("ts div 1000")).as("ts_t"),
          col("event_type"), col("value"))
      val sk = graft.ops.Sketches.quantileSketchWindowed(
        src, "ts_t", Seq("event_type"), "value", "1 day", "48 hours")
      val q = new graft.streaming.AggUpsertStream(s, cfg, target)
        .run(sk, Trigger.AvailableNow())
      q.awaitTermination()
      graft.ops.Sketches.quantileFromSketch(
        new graft.sink.ParquetTarget(s, target).read().get,
        Seq("window_start_us", "event_type"), Seq(50, 95))
    }),

    // ---- Streaming HLL: daily distinct users per event type with NO
    //      distinct state — register maxes as the streaming aggregate,
    //      estimates assembled from the completed windows ----
    "s14_stream_hll" -> ((s, dir) => {
      val tmp = stableTmp("s14")
      val target = TargetTable("events_hll", s"$tmp/target",
        keyCols = Seq("window_start_us", "event_type", "hb"),
        versionCol = "hr", buckets = 4)
      val cfg = IngestConfig(name = s"s14-hll-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .select(
          timestamp_micros(expr("ts div 1000")).as("ts_t"),
          col("event_type"), col("user_id"))
      val sk = graft.ops.Sketches.hllSketchIdsWindowed(
        src, "ts_t", Seq("event_type"), "user_id", "1 day", "48 hours")
      val q = new graft.streaming.AggUpsertStream(s, cfg, target)
        .run(sk, Trigger.AvailableNow())
      q.awaitTermination()
      graft.ops.Sketches.hllEstimate(
        graft.ops.Sketches.hllFromRegisterRows(
          new graft.sink.ParquetTarget(s, target).read().get,
          Seq("window_start_us", "event_type")))
        .select(col("window_start_us"), col("event_type"),
          col("n_zero"), col("sum_q"), col("est_distinct"))
    }),

    // ---- Streaming CMS: per-user daily event frequencies in fixed
    //      memory — additive cell counts as the streaming aggregate,
    //      point estimates probed from completed windows ----
    "s15_stream_cms" -> ((s, dir) => {
      val tmp = stableTmp("s15")
      val target = TargetTable("events_cms", s"$tmp/target",
        keyCols = Seq("window_start_us", "event_type", "cc"),
        versionCol = "cn", buckets = 4)
      val cfg = IngestConfig(name = s"s15-cms-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .select(
          timestamp_micros(expr("ts div 1000")).as("ts_t"),
          col("event_type"), col("user_id"))
      val sk = graft.ops.Sketches.cmsSketchIdsWindowed(
        src, "ts_t", Seq("event_type"), "user_id", "1 day", "48 hours")
      val q = new graft.streaming.AggUpsertStream(s, cfg, target)
        .run(sk, Trigger.AvailableNow())
      q.awaitTermination()
      graft.ops.Sketches.cmsEstimateIds(
        graft.ops.Sketches.cmsFromCellRows(
          new graft.sink.ParquetTarget(s, target).read().get,
          Seq("window_start_us", "event_type")),
        Seq("window_start_us", "event_type"), (1L to 8L))
    }),

    // ---- Streaming Bloom: per-day per-type membership bitmaps in
    //      fixed memory — BIT_OR as the (idempotent) streaming
    //      aggregate, popcount as the monotone sink version; completed
    //      windows probed for present AND absent ids ----
    "s16_stream_bloom" -> ((s, dir) => {
      val tmp = stableTmp("s16")
      val target = TargetTable("events_bloom", s"$tmp/target",
        keyCols = Seq("window_start_us", "event_type", "bw"),
        versionCol = "bn", buckets = 4)
      val cfg = IngestConfig(name = s"s16-bloom-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .select(
          timestamp_micros(expr("ts div 1000")).as("ts_t"),
          col("event_type"), col("user_id"))
      val sk = graft.ops.Sketches.bloomSketchIdsWindowed(
        src, "ts_t", Seq("event_type"), "user_id", "1 day", "48 hours")
      val q = new graft.streaming.AggUpsertStream(s, cfg, target)
        .run(sk, Trigger.AvailableNow())
      q.awaitTermination()
      graft.ops.Sketches.bloomContainsIds(
        graft.ops.Sketches.bloomFromWordRows(
          new graft.sink.ParquetTarget(s, target).read().get,
          Seq("window_start_us", "event_type")),
        Seq("window_start_us", "event_type"),
        Seq(1L, 2L, 3L, 4L, 100001L, 100002L, 100003L, 100004L))
    }),

    // ---- Sliding event-time windows: daily totals every 12 h (each
    //      event in window/slide=2 windows), merged like s1 ----
    "s7_stream_sliding" -> ((s, dir) => {
      val tmp = stableTmp("s7")
      val target = TargetTable("events_sliding", s"$tmp/target",
        keyCols = Seq("window_start_us", "event_type"), versionCol = "n_events",
        buckets = 4)
      val cfg = IngestConfig(name = s"s7-sliding-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .select(
          timestamp_micros(expr("ts div 1000")).as("ts_t"),
          col("event_type"), col("value"))
      val agg = graft.streaming.EventTime.slidingAgg(
        src, "ts_t", "value", "1 day", "12 hours", "48 hours", Seq("event_type"))
      val q = new graft.streaming.AggUpsertStream(s, cfg, target)
        .run(agg, Trigger.AvailableNow())
      q.awaitTermination()
      new graft.sink.ParquetTarget(s, target).read().get
        .select(col("window_start_us"), col("event_type"),
          col("n_events"), col("sum_value"))
    }),

    // ---- Per-key event-time quota: admit first 3 events per
    //      (user, day), counter state evicted by event-time timeout ----
    "s8_stream_quota" -> ((s, dir) => {
      val tmp = stableTmp("s8")
      val cfg = IngestConfig(name = s"s8-quota-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .select(
          timestamp_micros(expr("ts div 1000")).as("ts_t"),
          col("user_id"), col("event_id"))
      appendStream(s,
        graft.streaming.StreamQuota.perKeyWindowQuota(
          src, "user_id", "ts_t", "event_id",
          "1 day", "48 hours", maxPerWindow = 3),
        cfg, tmp)
    }),

    // ---- Custom streaming state: flatMapGroupsWithState running counts ----
    "s2_stream_stateful" -> ((s, dir) => {
      val tmp = stableTmp("s2")
      val target = TargetTable("events_running", s"$tmp/target",
        keyCols = Seq("pkey"), versionCol = "n_events", buckets = 4)
      val cfg = IngestConfig(name = s"s2-stateful-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .select(
          col("user_id").as("pkey"), expr("ts div 1000").as("ver"),
          col("event_id").as("tie"), col("value"))
      val updates = graft.streaming.Stateful.runningPerKey(src)
      val q = new graft.streaming.AggUpsertStream(s, cfg, target)
        .run(updates, Trigger.AvailableNow())
      q.awaitTermination()
      new graft.sink.ParquetTarget(s, target).read().get
        .select(col("pkey"), col("n_events"), col("last_us"),
          col("last_event_id"), col("last_value"))
    }),

    // ---- Streaming Markov transitions: per-user last-event state +
    //      running (from→to) counts in flatMapGroupsWithState, upserted
    //      by the monotone count; read-back sums per-user counts and
    //      normalizes — equals the batch transition matrix exactly ----
    "s17_stream_markov" -> ((s, dir) => {
      val tmp = stableTmp("s17")
      val target = TargetTable("events_markov", s"$tmp/target",
        keyCols = Seq("user_id", "from_type", "to_type"),
        versionCol = "n", buckets = 4)
      val cfg = IngestConfig(name = s"s17-markov-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .select(
          col("user_id").as("pkey"), expr("ts div 1000").as("ver"),
          col("event_id").as("tie"), col("event_type").as("etype"))
      val updates = graft.streaming.Stateful.transitionsPerKey(src)
      val q = new graft.streaming.AggUpsertStream(s, cfg, target)
        .run(updates, Trigger.AvailableNow())
      q.awaitTermination()
      val pairs = new graft.sink.ParquetTarget(s, target).read().get
        .groupBy(col("from_type"), col("to_type"))
        .agg(sum(col("n")).as("n"))
      pairs
        .withColumn("n_from", sum(col("n")).over(
          Window.partitionBy(col("from_type"))))
        .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
          (col("n").cast("double") / col("n_from").cast("double")).as("p"))
    }),

    // ---- Streaming first-touch funnel: per-user per-stage MIN event
    //      time in state (commutative -> exactly order- AND
    //      batch-boundary-insensitive), conversion decided at read ----
    "s18_stream_funnel" -> ((s, dir) => {
      val tmp = stableTmp("s18")
      val target = TargetTable("events_funnel", s"$tmp/target",
        keyCols = Seq("user_id"), versionCol = "n_events", buckets = 4)
      val cfg = IngestConfig(name = s"s18-funnel-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id").as("pkey"), expr("ts div 1000").as("ver"),
          col("event_type").as("etype"))
      val updates = graft.streaming.Stateful.funnelPerKey(src)
      val q = new graft.streaming.AggUpsertStream(s, cfg, target)
        .run(updates, Trigger.AvailableNow())
      q.awaitTermination()
      new graft.sink.ParquetTarget(s, target).read().get
        .select(col("user_id"), col("n_events"), col("t_view_us"),
          col("t_click_us"), col("t_purchase_us"),
          coalesce(col("t_view_us") < col("t_click_us") &&
            col("t_click_us") < col("t_purchase_us"), lit(false))
            .as("converted"))
    }),

    // ---- Streaming distribution drift: daily value-bucket counts as
    //      ONE watermarked windowed aggregate; per-window PSI terms vs
    //      the all-time reference computed on the converged counts ----
    // ---- Streaming dead-letter monitor: the quarantine split applied
    //      to the live stream (row-local, so it composes with any
    //      source), rolled into watermarked daily per-reason windows ----
    "s20_stream_quarantine" -> ((s, dir) => {
      val tmp = stableTmp("s20")
      val target = TargetTable("events_dlq", s"$tmp/target",
        keyCols = Seq("window_start_us", "quarantine_reason"),
        versionCol = "n_events", buckets = 4)
      val cfg = IngestConfig(name = s"s20-dlq-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .select(timestamp_micros(expr("ts div 1000")).as("ts_t"),
          col("value"), col("event_type"))
      val (_, bad) = graft.sink.Merge.quarantineSplit(src, Seq(
        "low_value" -> (col("value") >= 0.05),
        "error_type" -> (col("event_type") =!= "error")))
      val agg = graft.streaming.EventTime.tumblingAgg(
        bad, "ts_t", "value", "1 day", "48 hours",
        Seq("quarantine_reason"))
      val q = new graft.streaming.AggUpsertStream(s, cfg, target)
        .run(agg, Trigger.AvailableNow())
      q.awaitTermination()
      new graft.sink.ParquetTarget(s, target).read().get
        .select(col("window_start_us"), col("quarantine_reason"),
          col("n_events"), col("sum_value"))
    }),

    "s19_stream_psi" -> ((s, dir) => {
      val tmp = stableTmp("s19")
      val target = TargetTable("events_drift", s"$tmp/target",
        keyCols = Seq("window_start_us", "bucket"),
        versionCol = "n_events", buckets = 4)
      val cfg = IngestConfig(name = s"s19-psi-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .filter(col("value").isNotNull)
        .select(timestamp_micros(expr("ts div 1000")).as("ts_t"),
          floor(col("value") * 4.0).cast("long").as("bucket"),
          col("value"))
      val agg = graft.streaming.EventTime.tumblingAgg(
        src, "ts_t", "value", "1 day", "48 hours", Seq("bucket"))
      val q = new graft.streaming.AggUpsertStream(s, cfg, target)
        .run(agg, Trigger.AvailableNow())
      q.awaitTermination()
      val c = new graft.sink.ParquetTarget(s, target).read().get
        .select(col("window_start_us").as("w"), col("bucket"),
          col("n_events").as("n"))
      val wt = c.groupBy("w").agg(sum(col("n")).as("wt"))
      val bt = c.groupBy("bucket").agg(sum(col("n")).as("bt"))
      val g = c.agg(sum(col("n")).as("t"))
      val pw = col("n").cast("double") / col("wt").cast("double")
      val pb = col("bt").cast("double") / col("t").cast("double")
      // Buckets absent from a window contribute nothing (present-cell
      // PSI — no epsilon smoothing to disagree about cross-engine).
      c.join(wt, "w").join(bt, "bucket").crossJoin(broadcast(g))
        .select(col("w").as("window_start_us"), col("bucket"), col("n"),
          round((pw - pb) * (log(pw) - log(pb)), 8).as("psi_term"))
    }),

    // ---- Streaming anomaly scoring: per-key EXACT integer moments in
    //      state (order-insensitive), latest value z-scored against the
    //      key's full history — one deterministic division + sqrt ----
    "s12_stream_anomaly" -> ((s, dir) => {
      val tmp = stableTmp("s12")
      val target = TargetTable("events_anomaly", s"$tmp/target",
        keyCols = Seq("pkey"), versionCol = "n_events", buckets = 4)
      val cfg = IngestConfig(name = s"s12-anomaly-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .select(
          col("user_id").as("pkey"), expr("ts div 1000").as("ver"),
          col("event_id").as("tie"), col("value"))
      val updates = graft.streaming.Stateful.momentAnomalyPerKey(src)
      val q = new graft.streaming.AggUpsertStream(s, cfg, target)
        .run(updates, Trigger.AvailableNow())
      q.awaitTermination()
      new graft.sink.ParquetTarget(s, target).read().get
        .select(col("pkey"), col("n_events"), col("last_value"),
          col("zscore"))
    }),

    // ---- Streaming near-dup detection ON the ingest stream: MinHash
    //      banding per arriving doc (same constants as the batch LSH →
    //      identical candidates), watermarked band-key self-join bounded
    //      to |Δts| <= 1 h, exact pair dedup across bands ----
    "s11_stream_simjoin" -> ((s, dir) => {
      val batchSchema = t(s, dir, "documents").schema
      val tmp = stableTmp("s11")
      val cfg = IngestConfig(name = s"s11-simjoin-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val docs = graft.engine.Sources
        .parquet(s, cfg, batchSchema, s"$dir/documents.parque[t]")
        .select(col("doc_id"), col("text"),
          timestamp_micros(col("doc_id") * 1000000L).as("ts"))
      val pairs = graft.streaming.StreamSimilarity.lshSelfJoinPairs(
        docs, "doc_id", "text", "ts",
        window = "1 hour", watermark = "3650 days")
      appendStream(s, pairs, cfg, tmp)
    }),

    // ---- Streaming MULTIMODAL dedup: arriving media payloads decode
    //      to real pixels in-stream (stateless batched kernel), hash to
    //      aHash fingerprints, and exact-dedup on the fingerprint —
    //      the crawl-ingest image-dedup shape; output projects the
    //      fingerprint only (which duplicate arrives first is
    //      scheduling-dependent, the s4 discipline) ----
    "s23_stream_media_dedup" -> ((s, dir) => {
      val batchSchema = t(s, dir, "documents").schema
      val tmp = stableTmp("s23")
      val cfg = IngestConfig(name = s"s23-mediadedup-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val docs = graft.multimodal.MediaFixtures.withFixtureBytes(
        graft.engine.Sources
          .parquet(s, cfg, batchSchema, s"$dir/documents.parque[t]"),
        "doc_id", id => graft.multimodal.MediaFixtures.pngPixelBytes(
          (id % 24 + 9).toInt, (id % 16 + 8).toInt, id % 97))
      val hashed = Multimodal.perceptualHashes(docs, "doc_id", "content")
        .select(col("ahash_lo"), col("ahash_hi"))
      appendStream(s, graft.streaming.StreamDedup.exact(
        hashed, Seq("ahash_lo", "ahash_hi")), cfg, tmp)
    }),
    // ---- Streaming CDC dedup: content-defined chunking runs on docs
    //      AS THEY ARRIVE; the streaming exact-dedup keeps first-seen
    //      chunk hashes — the incremental store-once path. The
    //      distinct hash set is stream-order independent, so the batch
    //      replay oracles it (the s23 discipline). ----
    "s27_stream_cdc_dedup" -> ((s, dir) => {
      val batchSchema = t(s, dir, "documents").schema
      val tmp = stableTmp("s27")
      val cfg = IngestConfig(name = s"s27-cdcdedup-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val docs = graft.engine.Sources
        .parquet(s, cfg, batchSchema, s"$dir/documents.parque[t]")
      val chunks = NearDup.cdcChunks(docs, "doc_id", "text")
        .select(col("chunk_md5"), col("len"))
      appendStream(s, graft.streaming.StreamDedup.exact(
        chunks, Seq("chunk_md5")), cfg, tmp)
    }),

    // ---- Streaming PII scan: the scrub pass applied IN-STREAM — a
    //      stateless codegen'd map over arriving docs (same regex +
    //      validation arithmetic as the batch gate), so quarantine
    //      decisions happen at ingest, not in a later batch sweep ----
    // ---- Streaming WARC ingestion: crawl records arrive as gzip
    //      members on the stream; gunzip + record parse run INSIDE the
    //      streaming plan. Stateless map, shared oracle with the batch
    //      gate. ----
    "s26_stream_warc" -> ((s, dir) => {
      val batchSchema = t(s, dir, "documents").schema
      val tmp = stableTmp("s26")
      val cfg = IngestConfig(name = s"s26-warc-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val docs = graft.engine.Sources
        .parquet(s, cfg, batchSchema, s"$dir/documents.parque[t]")
      val warcGz = graft.sources.Warc.warcGzFixture(
        docs, "doc_id", "text",
        uriOf = id => s"https://example.com/doc/$id",
        statusOf = id => if (id % 5 == 0) 404 else 200,
        ctypeOf = id =>
          if (id % 2 == 0) "text/html; charset=utf-8" else "text/plain")
      appendStream(s,
        graft.sources.Warc.records(warcGz, "doc_id", "content"), cfg, tmp)
    }),

    // ---- Streaming gzip ingestion: per-record gzip members arrive on
    //      the stream; the kernel inflates INSIDE the streaming plan
    //      (typed mapPartitions under a file-stream source) — the
    //      .jsonl.gz tail -f shape. Stateless map, shared oracle. ----
    // ---- Streaming RESERVOIR maintenance: the deterministic bottom-k
    //      sample kept live over a stream — the batch reservoir's tag
    //      (negated, since the slate keeps maxima) through the O(k)
    //      leaderboard state; converged slate == batch bottom-k ----
    "s30_stream_reservoir" -> ((s, dir) => {
      val tmp = stableTmp("s30")
      val target = TargetTable("lang_reservoir", s"$tmp/target",
        keyCols = Seq("gkey", "rank"), versionCol = "upd_seq", buckets = 4)
      val cfg = IngestConfig(name = s"s30-resv-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val batchSchema = t(s, dir, "documents").schema
      val docs = graft.engine.Sources
        .parquet(s, cfg, batchSchema, s"$dir/documents.parque[t]")
      val a1 = TextHash.permuteA(1); val b1 = TextHash.permuteB(1)
      val src = docs.select(col("lang").as("gkey"),
        col("doc_id").as("id"),
        (-pmod(col("doc_id") * a1 + b1, lit(TextHash.P)))
          .cast("double").as("score"))
      val updates = graft.streaming.Stateful.topKPerKey(src, k = 7)
      val q = new graft.streaming.AggUpsertStream(s, cfg, target)
        .run(updates, Trigger.AvailableNow())
      q.awaitTermination()
      new graft.sink.ParquetTarget(s, target).read().get
        .select(col("gkey").as("lang"), col("rank").as("sample_rank"),
          col("id").as("doc_id"), col("score").as("neg_tag"))
    }),

    // ---- Streaming fixed-width ingest: format orders into padded
    //      lines inside the stream, parse by column slices (stateless,
    //      append mode), every parsed field checked against a direct
    //      source oracle ----
    "s29_stream_fixed_width" -> ((s, dir) => {
      val batchSchema = t(s, dir, "orders").schema
      val tmp = stableTmp("s29")
      val cfg = IngestConfig(name = s"s29-fw-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val orders = graft.engine.Sources
        .parquet(s, cfg, batchSchema, s"$dir/orders.parque[t]")
      val lines = orders.select(concat(
        lpad(col("o_orderkey").cast("string"), 10, "0"),
        rpad(col("o_orderstatus"), 1, " "),
        lpad(floor(col("o_totalprice") * 100).cast("long").cast("string"),
          12, "0"),
        date_format(col("o_orderdate"), "yyyyMMdd")).as("value"))
      val parsed = graft.sources.Formats.parseFixedWidth(lines, "value",
        Seq(("okey", 1, 10, "long"), ("status", 11, 1, "string"),
          ("cents", 12, 12, "long"), ("ymd", 24, 8, "string")))
      appendStream(s, parsed, cfg, tmp)
    }),

    "s25_stream_gunzip" -> ((s, dir) => {
      val batchSchema = t(s, dir, "documents").schema
      val tmp = stableTmp("s25")
      val cfg = IngestConfig(name = s"s25-gunzip-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val docs = graft.engine.Sources
        .parquet(s, cfg, batchSchema, s"$dir/documents.parque[t]")
      val gz = graft.sources.Formats.gzipTextFixture(docs, "doc_id", "text")
      val out = graft.sources.Formats.gunzipText(gz, "doc_id", "content")
        .select(col("id"), col("n_bytes"),
          length(col("text")).cast("long").as("n_chars"),
          md5(col("text").cast("binary")).as("text_md5"))
      appendStream(s, out, cfg, tmp)
    }),

    "s24_stream_pii_scan" -> ((s, dir) => {
      val batchSchema = t(s, dir, "documents").schema
      val tmp = stableTmp("s24")
      val cfg = IngestConfig(name = s"s24-piiscan-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val docs = graft.engine.Sources
        .parquet(s, cfg, batchSchema, s"$dir/documents.parque[t]")
        .select(col("doc_id"),
          piiFixtureText(col("doc_id"), col("text")).as("pii_text"))
      appendStream(s, graft.ops.Pii.scan(docs, "doc_id", "pii_text"),
        cfg, tmp)
    }),


    // ---- Streaming leaderboard: global top-3 per event_type by value,
    //      O(k) custom state, slate re-emitted on change and converged
    //      through the (key, rank)-keyed latest-wins merge sink ----
    "s10_stream_topk" -> ((s, dir) => {
      val tmp = stableTmp("s10")
      val target = TargetTable("type_leaderboard", s"$tmp/target",
        keyCols = Seq("gkey", "rank"), versionCol = "upd_seq", buckets = 4)
      val cfg = IngestConfig(name = s"s10-topk-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .select(col("event_type").as("gkey"),
          col("event_id").as("id"), col("value").as("score"))
      val updates = graft.streaming.Stateful.topKPerKey(src, k = 3)
      val q = new graft.streaming.AggUpsertStream(s, cfg, target)
        .run(updates, Trigger.AvailableNow())
      q.awaitTermination()
      new graft.sink.ParquetTarget(s, target).read().get
        .select(col("gkey").as("event_type"), col("rank"),
          col("id").as("event_id"), col("score").as("value"))
    }),

    // ---- Stream-stream interval join: each click paired with the same
    //      user's purchases in the following hour (symmetric hash join;
    //      watermark + range condition bound BOTH sides' state) ----
    // ---- O11 superset, JOIN-STATE edition: kill-and-resume of a
    //      STREAM-STREAM interval join — the third recovery surface
    //      beside o38 (file offsets) and s33 (aggregation state): the
    //      buffered-row join state of BOTH sides must reload so clicks
    //      ingested before the kill still pair with purchases that
    //      only arrive after the restart. Files are split by KEY (not
    //      time) precisely to force those cross-restart matches; the
    //      gate watermark is effectively unbounded so the result equals
    //      the batch join exactly (s3's oracle). The file sink's
    //      _spark_metadata commit log makes the killed batch's orphan
    //      output invisible to the final read — exactly-once output. ----
    "s34_stream_join_restart" -> ((s, dir) => {
      import scala.jdk.CollectionConverters._
      val tmp = stableTmp("s34")
      val ckpt = s"$tmp/ckpt"
      val srcDir = java.nio.file.Paths.get(tmp, "src")
      val schema = eventRecords(s, dir).schema
      def oneFile(part: Int, name: String): Unit = {
        val stage = s"$tmp/stage_$name"
        eventRecords(s, dir).filter(col("pkey") % 3 === part)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        Files.createDirectories(srcDir)
        val p = Files.list(java.nio.file.Paths.get(stage))
          .iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(p, srcDir.resolve(name))
      }
      def joined = {
        def src = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
        val clicks = src.filter(col("event_type") === "click").select(
          col("pkey").as("c_user"), col("event_id").as("click_id"),
          timestamp_micros(col("modified_date_us")).as("click_ts"))
        val purchases = src.filter(col("event_type") === "purchase").select(
          col("pkey").as("p_user"), col("event_id").as("purchase_id"),
          timestamp_micros(col("modified_date_us")).as("purchase_ts"),
          col("value").as("purchase_value"))
        graft.streaming.StreamJoins.intervalJoin(
          clicks, purchases, Seq("c_user" -> "p_user"),
          "click_ts", "purchase_ts", "0 seconds", "1 hour", "3650 days")
          .select(col("c_user").as("user_id"), col("click_id"),
            unix_micros(col("click_ts")).as("click_us"),
            col("purchase_id"),
            unix_micros(col("purchase_ts")).as("purchase_us"),
            col("purchase_value"))
      }
      def start(name: String, trigger: Trigger) =
        joined.writeStream.queryName(name)
          .format("parquet").option("path", s"$tmp/out")
          .option("checkpointLocation", ckpt)
          .trigger(trigger).start()
      val alreadyCommitted =
        Files.exists(java.nio.file.Paths.get(ckpt, "commits", "0"))
      if (!alreadyCommitted) {
        oneFile(0, "f0.parquet"); oneFile(1, "f1.parquet")
        val q1 = start(s"s34-a-${System.nanoTime()}",
          Trigger.ProcessingTime(10L))
        val deadline = System.nanoTime() + 300L * 1000L * 1000L * 1000L
        while (!q1.recentProgress.exists(_.numInputRows > 0) &&
            q1.isActive && System.nanoTime() < deadline) Thread.sleep(25)
        q1.stop()
        oneFile(2, "f2.parquet") // late data while the engine is down
      }
      val q2 = start(s"s34-b-${System.nanoTime()}", Trigger.AvailableNow())
      q2.awaitTermination()
      s.read.parquet(s"$tmp/out")
    }),

    "s3_stream_stream_join" -> ((s, dir) => {
      val tmp = stableTmp("s3")
      val cfg = IngestConfig(name = s"s3-join-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      def src = eventsStream(s, cfg, dir)
      val clicks = src.filter(col("event_type") === "click").select(
        col("user_id").as("c_user"), col("event_id").as("click_id"),
        timestamp_micros(expr("ts div 1000")).as("click_ts"))
      val purchases = src.filter(col("event_type") === "purchase").select(
        col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        timestamp_micros(expr("ts div 1000")).as("purchase_ts"),
        col("value").as("purchase_value"))
      // Gate watermark is effectively unbounded so the result equals the
      // batch join exactly regardless of micro-batching; production sizes
      // it to the stream's real disorder (see StreamJoins scaladoc).
      val joined = graft.streaming.StreamJoins.intervalJoin(
        clicks, purchases, Seq("c_user" -> "p_user"),
        "click_ts", "purchase_ts", "0 seconds", "1 hour", "3650 days")
        .select(col("c_user").as("user_id"), col("click_id"),
          unix_micros(col("click_ts")).as("click_us"),
          col("purchase_id"),
          unix_micros(col("purchase_ts")).as("purchase_us"),
          col("purchase_value"))
      appendStream(s, joined, cfg, tmp)
    }),

    // ---- Stream-stream LEFT OUTER interval join: clicks with their
    //      following-hour purchases OR a null row once the watermark
    //      proves none can arrive; both engines cut at max ts - 1h - 1d ----
    "s3b_stream_left_join" -> ((s, dir) => {
      val tmp = stableTmp("s3b")
      val cfg = IngestConfig(name = s"s3b-ljoin-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      def src = eventsStream(s, cfg, dir)
      val clicks = src.filter(col("event_type") === "click").select(
        col("user_id").as("c_user"), col("event_id").as("click_id"),
        timestamp_micros(expr("ts div 1000")).as("click_ts"))
      val purchases = src.filter(col("event_type") === "purchase").select(
        col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        timestamp_micros(expr("ts div 1000")).as("purchase_ts"),
        col("value").as("purchase_value"))
      val joined = graft.streaming.StreamJoins.intervalJoin(
        clicks, purchases, Seq("c_user" -> "p_user"),
        "click_ts", "purchase_ts", "0 seconds", "1 hour", "0 seconds",
        joinType = "left_outer")
        .select(col("c_user").as("user_id"), col("click_id"),
          unix_micros(col("click_ts")).as("click_us"),
          col("purchase_id"),
          unix_micros(col("purchase_ts")).as("purchase_us"),
          col("purchase_value"))
      val out = appendStream(s, joined, cfg, tmp)
      val maxUs = t(s, dir, "events")
        .agg(max(expr("ts div 1000"))).head().getLong(0)
      out.where(col("click_us") <= maxUs - (25L * 3600 * 1000000))
    }),

    // ---- Stream-stream FULL OUTER interval join: clicks and purchases
    //      pair within the hour; BOTH sides null-extend on state expiry,
    //      so both engines cut both sides at max ts - 1h - 1d ----
    "s3c_stream_full_join" -> ((s, dir) => {
      val tmp = stableTmp("s3c")
      val cfg = IngestConfig(name = s"s3c-fjoin-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      def src = eventsStream(s, cfg, dir)
      val clicks = src.filter(col("event_type") === "click").select(
        col("user_id").as("c_user"), col("event_id").as("click_id"),
        timestamp_micros(expr("ts div 1000")).as("click_ts"))
      val purchases = src.filter(col("event_type") === "purchase").select(
        col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        timestamp_micros(expr("ts div 1000")).as("purchase_ts"),
        col("value").as("purchase_value"))
      val joined = graft.streaming.StreamJoins.intervalJoin(
        clicks, purchases, Seq("c_user" -> "p_user"),
        "click_ts", "purchase_ts", "0 seconds", "1 hour", "0 seconds",
        joinType = "full_outer")
        .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
          col("click_id"), unix_micros(col("click_ts")).as("click_us"),
          col("purchase_id"),
          unix_micros(col("purchase_ts")).as("purchase_us"),
          col("purchase_value"))
      val out = appendStream(s, joined, cfg, tmp)
      val maxUs = t(s, dir, "events")
        .agg(max(expr("ts div 1000"))).head().getLong(0)
      val cut = maxUs - (25L * 3600 * 1000000)
      out.where(
        (col("click_us").isNull || col("click_us") <= cut) &&
          (col("purchase_us").isNull || col("purchase_us") <= cut))
    }),

    // ---- Streaming dedup: first-wins per key across the whole stream;
    //      key-only projection so the emitted witness row is irrelevant ----
    "s4_stream_dedup" -> ((s, dir) => {
      val tmp = stableTmp("s4")
      val cfg = IngestConfig(name = s"s4-dedup-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .select(col("user_id"), col("event_type"))
      appendStream(s,
        graft.streaming.StreamDedup.exact(src, Seq("user_id", "event_type")),
        cfg, tmp)
    }),

    // ---- Streaming MAJORITY-VOTE consensus: the incremental twin of
    //      q_majority_label — per-item tallies in
    //      flatMapGroupsWithState, monotone m_raters versioning the
    //      upsert sink, so replays converge to the batch consensus ----
    "s32_stream_majority" -> ((s, dir) => {
      val tmp = stableTmp("s32")
      val target = TargetTable("votes_maj", s"$tmp/target",
        keyCols = Seq("item"), versionCol = "m_raters", buckets = 4)
      val cfg = IngestConfig(name = s"s32-maj-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .select(col("event_id"), col("event_type"))
        .select(col("event_id").as("item"),
          explode(array((0 until 5).map(r =>
            graft.ops.Agreement.raterLabel(r)): _*)).as("lbl"))
      val q = new graft.streaming.AggUpsertStream(s, cfg, target)
        .run(graft.streaming.Stateful.runningMajority(src),
          Trigger.AvailableNow())
      q.awaitTermination()
      new graft.sink.ParquetTarget(s, target).read().get
        .select(col("item"), col("maj_label"), col("n_votes"),
          col("m_raters"))
    }),

    // ---- Streaming dedup, WATERMARK-BOUNDED state: the unbounded-key-
    //      domain twin of s4 (dropDuplicatesWithinWatermark) — state
    //      evicts once the watermark passes a key; the 40-day horizon
    //      covers the fixture's whole span, so the output is the exact
    //      distinct set while exercising the eviction-state operator ----
    "s31_stream_dedup_watermark" -> ((s, dir) => {
      val tmp = stableTmp("s31")
      val cfg = IngestConfig(name = s"s31-dedupwm-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .select(col("user_id"), col("event_type"),
          timestamp_micros(expr("ts div 1000")).as("ets"))
      appendStream(s,
        graft.streaming.StreamDedup.withinWatermark(
          src, Seq("user_id", "event_type"), "ets", "40 days")
          .select(col("user_id"), col("event_type")),
        cfg, tmp)
    }),

    // ---- Streaming per-key RATE baseline: daily event counts smoothed
    //      by a cross-window EWMA held as one state struct per key ----
    "s9_stream_rate_ewma" -> ((s, dir) => {
      val tmp = stableTmp("s9")
      val cfg = IngestConfig(name = s"s9-rate-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .select(col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("ets"))
      appendStream(s, graft.streaming.Stateful.perKeyRateEwma(
        src, "user_id", "ets", "1 day", alpha = 0.25), cfg, tmp)
    }),

    // ---- Stream-static enrichment: events stream × customer dim
    //      (broadcast dim, no stream shuffle, no state store) ----
    "s5_stream_static_join" -> ((s, dir) => {
      val tmp = stableTmp("s5")
      val cfg = IngestConfig(name = s"s5-enrich-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .filter(col("user_id") < 150)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val dim = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      val enriched = graft.streaming.StreamJoins.enrichWithDim(
        src, dim, Seq("user_id" -> "c_custkey"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("c_nationkey"), col("c_mktsegment"))
      appendStream(s, enriched, cfg, tmp)
    }),

    // ---- Streaming sessionization: session windows + watermark, append
    //      mode (the only mode Spark allows for streaming session
    //      aggregation) — the streaming twin of q_sessionize. Append
    //      emits a session only once the watermark passes its close, so
    //      BOTH engines are cut at a margin safely inside the emitted
    //      set: cutoff = max event time - gap - 1 day ----
    "s6_stream_session" -> ((s, dir) => {
      val tmp = stableTmp("s6")
      val cfg = IngestConfig(name = s"s6-session-${System.nanoTime()}",
        checkpointDir = Some(s"$tmp/ckpt"))
      val src = eventsStream(s, cfg, dir)
        .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("ts_t"))
      val agg = graft.streaming.EventTime.sessionAgg(
        src, "ts_t", "6 hours", "0 seconds", Seq("user_id"))
      val out = appendStream(s, agg, cfg, tmp)
      val maxUs = t(s, dir, "events")
        .agg(max(expr("ts div 1000"))).head().getLong(0)
      out.where(col("session_end_us") <= maxUs - (30L * 3600 * 1000000))
    }),
  )

  def oracles: Map[String, String] = {
    Map(
      "o4_stream_ingest_e2e" -> dedupState,
      // restart on the same checkpoint converges to the exact state an
      // uninterrupted run produces
      "o38_restart_resume" -> dedupState,
      // the per-batch-synced index serves exactly the filtered state
      "s21_stream_indexed_ingest" ->
        (s"SELECT pkey, modified_date_us, event_type, value " +
          s"FROM ($dedupState) WHERE event_type = 'purchase'"),
      // bloom pruning is one-sided: the per-batch-synced sidecar probe
      // serves exactly the filtered state
      "s28_stream_bloom_ingest" ->
        (s"SELECT pkey, modified_date_us, event_type, value " +
          s"FROM ($dedupState) WHERE event_type = 'purchase'"),
      "s22_stream_vectored_delete" ->
        // Post-ingest latest-wins state minus every key that has an
        // error event (the streamed delete key set) — vectored marks
        // remove exact state rows, keys never re-inserted afterwards.
        (s"WITH st AS ($dedupState), " +
          "errs AS (SELECT DISTINCT user_id AS pkey FROM events " +
          "WHERE event_type = 'error' AND user_id % 3 = 0) " +
          "SELECT st.pkey, st.modified_date_us, st.event_type, st.value " +
          "FROM st LEFT JOIN errs ON st.pkey = errs.pkey " +
          "WHERE errs.pkey IS NULL"),
      // state-store recovery converges to the same full-batch aggregate
      "s33_stream_agg_restart" ->
        ("SELECT (epoch_us(ts) - epoch_us(ts) % 86400000000) AS window_start_us, " +
          "event_type, count(*) AS n_events, " +
          "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
          "FROM events GROUP BY 1, 2"),
      "s1_stream_window_agg" ->
        ("SELECT (epoch_us(ts) - epoch_us(ts) % 86400000000) AS window_start_us, " +
          "event_type, count(*) AS n_events, " +
          "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
          "FROM events GROUP BY 1, 2"),
      // cell counts are additive, so the streamed CMS equals the batch
      // build over the same day buckets
      "s15_stream_cms" -> {
        val width = 1024
        val cellsOf = { (h: String) =>
          (0 until 3).map(j =>
            s"${j.toLong * width} + ((($h) * ${TextHash.permuteA(j)} + " +
              s"${TextHash.permuteB(j)}) % ${TextHash.P}) % $width")
            .mkString("[", ", ", "]")
        }
        "WITH t AS (SELECT (epoch_us(ts) - epoch_us(ts) % 86400000000) " +
          "AS w, event_type, CAST(user_id AS BIGINT) AS h0 FROM events " +
          "WHERE user_id IS NOT NULL), " +
          "c AS (SELECT w, event_type, cell, count(*) AS n FROM " +
          s"(SELECT w, event_type, unnest(${cellsOf("h0")}) AS cell FROM t) " +
          "GROUP BY 1, 2, 3), " +
          "pp AS (SELECT CAST(unnest([1,2,3,4,5,6,7,8]) AS BIGINT) AS probe_id), " +
          s"pc AS (SELECT probe_id, unnest(${cellsOf("probe_id")}) AS cell FROM pp), " +
          "wins AS (SELECT DISTINCT w, event_type FROM t) " +
          "SELECT wi.w AS window_start_us, wi.event_type, p.probe_id, " +
          "CAST(min(coalesce(c.n, 0)) AS BIGINT) AS est_count " +
          "FROM wins wi CROSS JOIN pc p " +
          "LEFT JOIN c ON c.w = wi.w AND c.event_type = wi.event_type " +
          "AND c.cell = p.cell " +
          "GROUP BY 1, 2, 3"
      },
      // set bits are duplicate-insensitive (OR), so the streamed Bloom
      // equals the distinct position set of the same day buckets
      "s16_stream_bloom" -> {
        val mBits = 4096
        val posOf = { (h: String) =>
          (0 until 3).map(j =>
            s"((($h) * ${graft.functions.TextHash.permuteA(j)} + " +
              s"${graft.functions.TextHash.permuteB(j)}) % " +
              s"${graft.functions.TextHash.P}) % $mBits")
            .mkString("[", ", ", "]")
        }
        "WITH t AS (SELECT (epoch_us(ts) - epoch_us(ts) % 86400000000) " +
          "AS w, event_type, CAST(user_id AS BIGINT) AS h0 FROM events " +
          "WHERE user_id IS NOT NULL), " +
          "ps AS (SELECT DISTINCT w, event_type, p FROM " +
          s"(SELECT w, event_type, unnest(${posOf("h0")}) AS p FROM t)), " +
          "pp AS (SELECT CAST(unnest([1,2,3,4,100001,100002,100003," +
          "100004]) AS BIGINT) AS probe_id), " +
          s"pc AS (SELECT probe_id, unnest(${posOf("probe_id")}) AS p " +
          "FROM pp), " +
          "wins AS (SELECT DISTINCT w, event_type FROM t) " +
          "SELECT wi.w AS window_start_us, wi.event_type, pc.probe_id, " +
          "CAST(count(*) FILTER (WHERE ps.p IS NULL) = 0 AS BOOLEAN) " +
          "AS maybe_contains " +
          "FROM wins wi CROSS JOIN pc " +
          "LEFT JOIN ps ON ps.w = wi.w AND ps.event_type = wi.event_type " +
          "AND ps.p = pc.p " +
          "GROUP BY 1, 2, 3"
      },
      // register maxes are duplicate-insensitive, so the streamed HLL
      // equals the batch build over the same day buckets
      "s14_stream_hll" -> {
        val m = 64
        val rmax = graft.ops.Sketches.hllW(m) + 1
        val num = graft.ops.Sketches.hllAlpha(m) *
          m.toDouble * m.toDouble * math.pow(2.0, rmax)
        s"WITH tp AS (SELECT (epoch_us(ts) - epoch_us(ts) % 86400000000) " +
          "AS window_start_us, event_type, " +
          s"(user_id * ${TextHash.permuteA(0)} + ${TextHash.permuteB(0)}) " +
          s"% ${TextHash.P} AS h FROM events WHERE user_id IS NOT NULL), " +
          s"br AS (SELECT window_start_us, event_type, h % $m AS b, " +
          s"CASE WHEN h // $m = 0 THEN $rmax " +
          s"ELSE $rmax - length(bin(h // $m)) END AS r FROM tp), " +
          "mr AS (SELECT window_start_us, event_type, b, max(r) AS r " +
          "FROM br GROUP BY 1, 2, 3), " +
          "g AS (SELECT window_start_us, event_type, " +
          s"CAST($m - count(*) AS BIGINT) AS n_zero, " +
          s"CAST(sum((CAST(1 AS BIGINT) << $rmax) >> r) + " +
          s"($m - count(*)) * (CAST(1 AS BIGINT) << $rmax) AS BIGINT) " +
          "AS sum_q FROM mr GROUP BY 1, 2) " +
          "SELECT window_start_us, event_type, n_zero, sum_q, " +
          s"$num / sum_q AS est_distinct FROM g"
      },
      // the streamed windowed sketch equals the batch sketch over the
      // same day buckets — counts are additive across micro-batches
      "s13_stream_quantile" ->
        ("WITH qraw AS (SELECT " +
          "(epoch_us(ts) - epoch_us(ts) % 86400000000) AS window_start_us, " +
          "event_type, CAST(value AS DOUBLE) AS x FROM events), " +
          graft.functions.OracleSql.quantileSketchCtes(
            Seq(50, 95), Seq("window_start_us", "event_type")) +
          " SELECT window_start_us, event_type, pct, n_rows, est FROM qest"),
      // each event belongs to exactly 2 sliding windows: the 12h-aligned
      // start and the one 12h earlier (window 1d / slide 12h)
      "s7_stream_sliding" ->
        ("SELECT (epoch_us(ts) - epoch_us(ts) % 43200000000 " +
          "- i * 43200000000) AS window_start_us, " +
          "event_type, count(*) AS n_events, " +
          "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
          "FROM events CROSS JOIN range(0, 2) t(i) GROUP BY 1, 2"),
      "s10_stream_topk" ->
        ("SELECT event_type, rank, event_id, value FROM " +
          "(SELECT event_type, event_id, value, " +
          "CAST(row_number() OVER (PARTITION BY event_type " +
          "ORDER BY value DESC, event_id DESC) AS BIGINT) AS rank " +
          "FROM events) WHERE rank <= 3"),
      "s2_stream_stateful" ->
        ("SELECT pkey, n_events, epoch_us(ts) AS last_us, " +
          "event_id AS last_event_id, value AS last_value FROM " +
          "(SELECT user_id AS pkey, ts, event_id, value, " +
          "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn, " +
          "count(*) OVER (PARTITION BY user_id) AS n_events FROM events) WHERE rn = 1"),
      "s12_stream_anomaly" ->
        ("WITH b AS (SELECT user_id AS pkey, epoch_us(ts) AS ver, " +
          "event_id, value, " +
          "CAST(floor(value * 1024.0) AS BIGINT) AS qx FROM events), " +
          "m AS (SELECT pkey, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(sum(qx) AS BIGINT) AS s, " +
          "CAST(sum(qx * qx) AS BIGINT) AS s2 FROM b GROUP BY pkey), " +
          "l AS (SELECT pkey, value AS last_value, qx AS lastq FROM (" +
          "SELECT pkey, value, qx, row_number() OVER (PARTITION BY pkey " +
          "ORDER BY ver DESC, event_id DESC) AS rn FROM b) WHERE rn = 1) " +
          "SELECT m.pkey, m.n AS n_events, l.last_value, " +
          "CASE WHEN m.n * m.s2 - m.s * m.s <= 0 THEN NULL " +
          "ELSE CAST(m.n * l.lastq - m.s AS DOUBLE) / " +
          "sqrt(CAST(m.n * m.s2 - m.s * m.s AS DOUBLE)) END AS zscore " +
          "FROM m JOIN l ON m.pkey = l.pkey"),
      // join-state recovery converges to the same batch interval join
      "s34_stream_join_restart" ->
        ("SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS click_us, " +
          "p.event_id AS purchase_id, epoch_us(p.ts) AS purchase_us, " +
          "p.value AS purchase_value " +
          "FROM events c JOIN events p ON c.user_id = p.user_id " +
          "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR " +
          "WHERE c.event_type = 'click' AND p.event_type = 'purchase'"),
      "s3_stream_stream_join" ->
        ("SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS click_us, " +
          "p.event_id AS purchase_id, epoch_us(p.ts) AS purchase_us, " +
          "p.value AS purchase_value " +
          "FROM events c JOIN events p ON c.user_id = p.user_id " +
          "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR " +
          "WHERE c.event_type = 'click' AND p.event_type = 'purchase'"),
      // left-outer twin: unmatched clicks null-extend; both engines cut
      // one margin below the final watermark (max ts - 1h bound - 1 day)
      "s3b_stream_left_join" ->
        ("SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS click_us, " +
          "p.event_id AS purchase_id, epoch_us(p.ts) AS purchase_us, " +
          "p.value AS purchase_value " +
          "FROM (SELECT * FROM events WHERE event_type = 'click') c " +
          "LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p " +
          "ON c.user_id = p.user_id " +
          "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR " +
          "WHERE epoch_us(c.ts) <= " +
          "(SELECT max(epoch_us(ts)) FROM events) - 90000000000"),
      // full-outer twin: both unmatched sides null-extend; both engines
      // cut BOTH sides one margin below the final watermark
      "s3c_stream_full_join" ->
        ("SELECT coalesce(c.user_id, p.user_id) AS user_id, " +
          "c.event_id AS click_id, epoch_us(c.ts) AS click_us, " +
          "p.event_id AS purchase_id, epoch_us(p.ts) AS purchase_us, " +
          "p.value AS purchase_value " +
          "FROM (SELECT * FROM events WHERE event_type = 'click') c " +
          "FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p " +
          "ON c.user_id = p.user_id " +
          "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR " +
          "WHERE (c.event_id IS NULL OR epoch_us(c.ts) <= " +
          "(SELECT max(epoch_us(ts)) FROM events) - 90000000000) " +
          "AND (p.event_id IS NULL OR epoch_us(p.ts) <= " +
          "(SELECT max(epoch_us(ts)) FROM events) - 90000000000)"),
      "s4_stream_dedup" ->
        "SELECT DISTINCT user_id, event_type FROM events",
      // watermark horizon exceeds the fixture span -> no key re-emits,
      // the output is exactly the distinct set (the operator under test
      // is the state-evicting dedup, not the set algebra)
      "s31_stream_dedup_watermark" ->
        "SELECT DISTINCT user_id, event_type FROM events",
      // streaming consensus converges to the batch majority per item
      "s32_stream_majority" -> {
        val ratings = (0 until 5).map(r =>
          s"SELECT event_id AS item, " +
            s"${graft.ops.Agreement.raterLabelSql(r)} AS lbl FROM events")
          .mkString(" UNION ALL ")
        s"WITH r AS ($ratings), " +
          "cnts AS (SELECT item, lbl, count(*) AS n FROM r GROUP BY 1, 2), " +
          "tot AS (SELECT item, CAST(sum(n) AS BIGINT) AS m_raters " +
          "FROM cnts GROUP BY item) " +
          "SELECT c.item, c.lbl AS maj_label, " +
          "CAST(c.n AS BIGINT) AS n_votes, tot.m_raters FROM (" +
          "SELECT item, lbl, n, row_number() OVER (PARTITION BY item " +
          "ORDER BY n DESC, lbl) AS rn FROM cnts) c " +
          "JOIN tot ON tot.item = c.item WHERE c.rn = 1"
      },
      // single AvailableNow batch → admission = global (ts, id)-first 3
      "s8_stream_quota" ->
        ("SELECT user_id, window_start_us, event_id, ts_us, " +
          "CAST(rn AS BIGINT) AS admitted_rank FROM (" +
          "SELECT user_id, " +
          "(epoch_us(ts) - epoch_us(ts) % 86400000000) AS window_start_us, " +
          "event_id, epoch_us(ts) AS ts_us, " +
          "row_number() OVER (PARTITION BY user_id, " +
          "(epoch_us(ts) - epoch_us(ts) % 86400000000) " +
          "ORDER BY epoch_us(ts), event_id) AS rn FROM events) " +
          "WHERE rn <= 3"),
      // single AvailableNow batch → windows fold in exact event-time order
      "s9_stream_rate_ewma" ->
        ("WITH w AS (SELECT user_id, " +
          "(epoch_us(ts) - epoch_us(ts) % 86400000000) AS win, " +
          "count(*) AS n FROM events GROUP BY 1, 2), " +
          "g AS (SELECT user_id, list(struct_pack(w := win, n := n) " +
          "ORDER BY win) AS s FROM w GROUP BY user_id) " +
          "SELECT user_id, r.w AS window_start_us, r.n AS n_events, " +
          "r.ew AS rate_ewma FROM (SELECT user_id, " +
          "unnest(list_transform(range(1, len(s) + 1), j -> struct_pack(" +
          "w := s[j].w, n := s[j].n, " +
          "ew := list_reduce(list_transform(list_slice(s, 1, j), " +
          "t -> CAST(t.n AS DOUBLE)), (p, x) -> 0.25 * x + 0.75 * p)))) " +
          "AS r FROM g)"),
      "s5_stream_static_join" ->
        ("SELECT e.event_id, e.user_id, e.event_type, " +
          "c.c_nationkey, c.c_mktsegment " +
          "FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey " +
          "WHERE e.user_id < 150"),
      // streaming twin: same sessions, both engines cut one margin below
      // the final watermark (max ts - 6h gap - 1 day)
      "s6_stream_session" ->
        (s"SELECT * FROM ($sessionizeSql) WHERE session_end_us <= " +
          "(SELECT max(epoch_us(ts)) FROM events) - 108000000000"),
      // The stream emits exactly the batch rows (stateless map) —
      // same oracle.
      "s24_stream_pii_scan" -> piiScanSql,
      // The stream emits exactly the batch rows (stateless map) —
      // same oracle as src_warc_records.
      "s26_stream_warc" ->
        ("SELECT doc_id AS id, 'response' AS warc_type, " +
          "'https://example.com/doc/' || doc_id AS target_uri, " +
          "CAST(CASE WHEN doc_id % 5 = 0 THEN 404 ELSE 200 END AS INT) " +
          "AS http_status, " +
          "CASE WHEN doc_id % 2 = 0 THEN 'text/html; charset=utf-8' " +
          "ELSE 'text/plain' END AS content_type, " +
          "CAST(strlen(text) AS BIGINT) AS body_len, " +
          "md5(text) AS body_md5 FROM documents"),
      // The stream emits exactly the batch rows (stateless map) —
      // same oracle.
      "s25_stream_gunzip" -> gzipTextSql,
      // The converged streaming slate must equal the batch bottom-k
      // (negated tag, hash ties impossible: the permutation is
      // injective below P).
      "s30_stream_reservoir" -> {
        val a1 = TextHash.permuteA(1); val b1 = TextHash.permuteB(1)
        val p = TextHash.P
        "SELECT lang, CAST(rn AS BIGINT) AS sample_rank, doc_id, " +
          s"CAST(-((doc_id * $a1 + $b1) % $p) AS DOUBLE) AS neg_tag " +
          "FROM (SELECT lang, doc_id, row_number() OVER (" +
          s"PARTITION BY lang ORDER BY (doc_id * $a1 + $b1) % $p, doc_id) " +
          "AS rn FROM documents) WHERE rn <= 7"
      },
      // Direct source replay: the streamed pad/parse round trip must be
      // lossless field-for-field.
      "s29_stream_fixed_width" ->
        ("SELECT o_orderkey AS okey, o_orderstatus AS status, " +
          "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents, " +
          "strftime(o_orderdate, '%Y%m%d') AS ymd FROM orders"),
      // streaming twin sums per-user stateful counts -> same pair table
      "s17_stream_markov" ->
        ("WITH e AS (SELECT event_type, lead(event_type) OVER (" +
          "PARTITION BY user_id ORDER BY ts, event_id) AS next_type " +
          "FROM events), " +
          "pr AS (SELECT event_type AS from_type, next_type AS to_type, " +
          "count(*) AS n FROM e WHERE next_type IS NOT NULL " +
          "GROUP BY 1, 2), " +
          "f AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from " +
          "FROM pr GROUP BY 1) " +
          "SELECT from_type, to_type, n, n_from, " +
          "CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE) AS p " +
          "FROM pr JOIN f USING (from_type)"),
      "s18_stream_funnel" ->
        // First-ever timestamp per stage; conversion = strictly ordered
        // firsts. Per-stage MIN is commutative, so the streamed state
        // equals this batch replay for ANY arrival order.
        ("WITH m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, " +
          "min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) " +
          "AS t_view_us, " +
          "min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) " +
          "AS t_click_us, " +
          "min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) " +
          "AS t_purchase_us FROM events " +
          "WHERE event_type IN ('view', 'click', 'purchase') " +
          "GROUP BY user_id) " +
          "SELECT user_id, n_events, t_view_us, t_click_us, " +
          "t_purchase_us, coalesce(t_view_us < t_click_us AND " +
          "t_click_us < t_purchase_us, false) AS converted FROM m"),
      "s20_stream_quarantine" ->
        // Additive window counts -> the streamed table equals the batch
        // replay of the same split + daily rollup.
        ("WITH r AS (SELECT ts, value, concat_ws(',', " +
          "CASE WHEN coalesce(value >= 0.05, false) THEN NULL " +
          "ELSE 'low_value' END, " +
          "CASE WHEN coalesce(event_type <> 'error', false) THEN NULL " +
          "ELSE 'error_type' END) AS reason FROM events) " +
          "SELECT (epoch_us(ts) - epoch_us(ts) % 86400000000) " +
          "AS window_start_us, reason AS quarantine_reason, " +
          "CAST(count(*) AS BIGINT) AS n_events, " +
          "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) " +
          "AS sum_value FROM r WHERE reason <> '' GROUP BY 1, 2"),
      "s19_stream_psi" ->
        // Window counts are additive -> the streamed table equals this
        // batch replay; PSI terms over present cells only, round 8.
        ("WITH c AS (SELECT (epoch_us(ts) - epoch_us(ts) % 86400000000) " +
          "AS w, CAST(floor(value * 4.0) AS BIGINT) AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n FROM events " +
          "WHERE value IS NOT NULL GROUP BY 1, 2), " +
          "wt AS (SELECT w, CAST(sum(n) AS BIGINT) AS wt FROM c " +
          "GROUP BY 1), " +
          "bt AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS bt FROM c " +
          "GROUP BY 1), " +
          "g AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c) " +
          "SELECT c.w AS window_start_us, c.bucket, c.n, " +
          "round((CAST(c.n AS DOUBLE) / CAST(wt.wt AS DOUBLE) - " +
          "CAST(bt.bt AS DOUBLE) / CAST(g.t AS DOUBLE)) * " +
          "(ln(CAST(c.n AS DOUBLE) / CAST(wt.wt AS DOUBLE)) - " +
          "ln(CAST(bt.bt AS DOUBLE) / CAST(g.t AS DOUBLE))), 8) " +
          "AS psi_term FROM c JOIN wt USING (w) " +
          "JOIN bt USING (bucket) CROSS JOIN g"),
      // The streaming self-join must surface EXACTLY the batch LSH pairs
      // whose synthesized event times (doc_id seconds) fall within the
      // 1-hour join window.
      "s11_stream_simjoin" ->
        (s"SELECT id_a, id_b, id_a * 1000000 AS ts_a_us, " +
          s"id_b * 1000000 AS ts_b_us FROM ($minhashLsh) " +
          "WHERE id_b - id_a <= 3600"),
      "s23_stream_media_dedup" ->
        // The distinct fingerprint set is stream-order-independent even
        // though the surviving doc id is not — replay the aHash per doc
        // and project DISTINCT words (the s4_stream_dedup discipline).
        ("WITH " + mmAHashCtes + " " +
          "SELECT DISTINCT lo AS ahash_lo, hi AS ahash_hi FROM hsh"),
      // First-seen chunk set == distinct chunk set (order-free oracle).
      "s27_stream_cdc_dedup" ->
        s"SELECT DISTINCT chunk_md5, len FROM ($cdcChunksSql)",
    )
  }
}
