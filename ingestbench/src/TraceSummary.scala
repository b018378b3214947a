package ingestbench

import scala.jdk.CollectionConverters._

/** Per-layer summary of a traced run, computed from the spans the
  * benchmark recorded around its calls into each layer and from the
  * listeners' counters. Only spans that start inside the timed window
  * count; warm-up work in set-up is excluded. A layer a workload does
  * not exercise reports 0. */
object TraceSummary {

  val PerLayer: Seq[(String, String)] = Seq(
    "engine.batches" -> "count", "engine.batch_ms" -> "ms",
    "engine.addbatch_ms" -> "ms", "engine.overhead_ms" -> "ms",
    "engine.route_ms" -> "ms", "engine.idle_ms" -> "ms",
    "engine.self_ms" -> "ms", "engine.backlog_growth_files" -> "files",
    "dedup.rows_in" -> "count", "dedup.rows_out" -> "count",
    "dedup.keep_ratio" -> "ratio", "dedup.agg_ms" -> "ms",
    "merge.broadcast_bytes" -> "bytes", "merge.broadcast_ms" -> "ms",
    "merge.broadcasts_per_merge" -> "ratio",
    "target.merges" -> "count", "target.merge_ms" -> "ms",
    "target.jobs_per_merge" -> "ratio", "target.job_ms" -> "ms",
    "target.driver_ms" -> "ms", "target.bucket_touch_ratio" -> "ratio",
    "target.rows_rewritten_per_input_row" -> "ratio",
    "target.bytes_written" -> "bytes", "target.files_written" -> "count",
    "target.lookups" -> "count", "target.lookup_ms" -> "ms",
    "target.lookup_driver_ms" -> "ms", "target.lookup_jobs" -> "ratio",
    "target.lookup_files_read" -> "ratio",
    "jdbc.merges" -> "count", "jdbc.merge_ms" -> "ms",
    "jdbc.driver_ms" -> "ms", "jdbc.rows_per_s" -> "1/s",
    "neardup.passes" -> "count", "neardup.signature_ms" -> "ms",
    "neardup.candidates" -> "count", "neardup.candidate_ms" -> "ms",
    "neardup.verify_ms" -> "ms", "neardup.verified_ratio" -> "ratio",
    "neardup.driver_ms" -> "ms", "neardup.recall" -> "ratio",
    "neardup.precision_exact" -> "ratio",
    "neardup.probe_ms" -> "ms", "components.ms" -> "ms",
    "components.jobs" -> "ratio",
    "exec.busy_frac" -> "ratio", "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.shuffle_bytes" -> "bytes", "exec.task_skew" -> "ratio",
    "run.failed_frac" -> "ratio", "run.release_lateness_max_ms" -> "ms",
    "run.freshness_samples" -> "count", "run.lookup_samples" -> "count",
    "trace.listener_ms" -> "ms", "trace.records_per_s_overhead_frac" -> "ratio")

  /** Workload facts the spans cannot know: the timed window and the row
    * counts handed to each layer (from the generator and the batch map). */
  final case class Inputs(t0: Double, t1: Double, dedupRowsIn: Long,
      targetRowsIn: Long, jdbcRowsIn: Long)

  def common(ctx: Ctx, in: Inputs): Map[String, Double] = {
    val st = ctx.sparkTrace.getOrElse(throw new IllegalStateException("untraced"))
    val all = ctx.tracer.all
    val inWindow = all.filter(s => s.start >= in.t0 && s.start <= in.t1)
    val byId = all.map(s => s.id -> s).toMap
    val kids = all.groupBy(_.parent)
    def named(p: String) = inWindow.filter(s => s.name == p || s.name.startsWith(p + "."))
    def jobsOf(s: Span) = kids.getOrElse(s.id, Nil).filter(_.name == "job")
    def self(s: Span) = Tracer.selfMs(s, kids.getOrElse(s.id, Nil))
    def mean(xs: Seq[Double]) = Stats.mean(xs)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

    // SQL metrics of executions whose jobs ran under a span of `layer`.
    val windowIds = inWindow.map(_.id).toSet
    val metrics = st.sqlMetrics
    def sqlUnder(layer: String) = metrics.filter { case (a, _) =>
      Option(st.execSpan.get(a.exec)).exists { sid =>
        windowIds.contains(sid) && byId.get(sid).exists(s =>
          s.name == layer || s.name.startsWith(layer + "."))
      }
    }
    val targetSql = sqlUnder("target")
    val sinkSql = targetSql ++ sqlUnder("jdbc")
    def isDedupAgg(node: String, desc: String) = node.contains("Aggregate") &&
      desc.contains("max_by(") && !desc.contains("partial_max_by")
    // The dedup aggregate can run twice in one merge plan (both broadcast
    // sides); its output is the same, so take the max per execution.
    val dedupOut = sinkSql.filter { case (a, _) =>
      isDedupAgg(a.node, a.desc) && a.metric == "number of output rows"
    }.groupBy(_._1.exec).values.map(_.map(_._2).max).sum.toDouble
    val dedupMs = sinkSql.filter { case (a, _) =>
      (isDedupAgg(a.node, a.desc) && a.metric == "time in aggregation build") ||
        (a.node == "Sort" && a.parentDesc.contains("max_by(") && a.metric == "sort time")
    }.map(_._2).sum.toDouble
    val bcast = targetSql.filter(_._1.node == "BroadcastExchange")
    val bcastCount = bcast.count { case (a, v) => a.metric == "data size" && v > 0 }
    val rewritten = targetSql.filter { case (a, _) =>
      a.node.contains("InsertIntoHadoopFsRelationCommand") && a.metric == "number of output rows"
    }.map(_._2).sum.toDouble

    val merges = named("target")
    val lookups = named("lookup")
    val jdbc = named("jdbc")
    val lookupFiles = sqlUnder("lookup").filter { case (a, _) =>
      a.node.startsWith("Scan") && a.metric == "number of files read"
    }.map(_._2).sum.toDouble

    val batches = ctx.streamTrace.toSeq.flatMap(_.batches.asScala)
      .filter(b => b.start >= in.t0 && b.start <= in.t1)
    val topSinks = inWindow.filter(s => s.parent == 0 &&
      Seq("target", "jdbc", "adapter").exists(p => s.name.startsWith(p + ".")))
      .groupBy(_.trace)
    val sinkMsOf = (b: StreamTrace#Batch) =>
      topSinks.getOrElse(b.id.toString, Nil).map(_.ms).sum
    val window = math.max(1.0, in.t1 - in.t0)
    val tasks = st.stageTasks.values.asScala

    val neardupStages = named("neardup") ++ named("components")
    Map(
      "engine.batches" -> batches.size.toDouble,
      "engine.batch_ms" -> mean(batches.map(_.triggerMs)),
      "engine.addbatch_ms" -> mean(batches.map(_.addBatchMs)),
      "engine.overhead_ms" -> mean(batches.map(b => b.triggerMs - b.addBatchMs)),
      "engine.route_ms" -> mean(batches.map(b => b.addBatchMs - sinkMsOf(b))),
      "engine.idle_ms" -> (if (batches.isEmpty) 0.0 else window - batches.map(_.triggerMs).sum),
      "engine.self_ms" -> batches.map(b => b.triggerMs - sinkMsOf(b)).sum,
      "dedup.rows_in" -> in.dedupRowsIn.toDouble,
      "dedup.rows_out" -> dedupOut,
      "dedup.keep_ratio" -> ratio(dedupOut, in.dedupRowsIn.toDouble),
      "dedup.agg_ms" -> dedupMs,
      "merge.broadcast_bytes" -> bcast.filter(_._1.metric == "data size").map(_._2).sum.toDouble,
      "merge.broadcast_ms" -> bcast.filter(x => Set("time to collect", "time to build",
        "time to broadcast").contains(x._1.metric)).map(_._2).sum.toDouble,
      "merge.broadcasts_per_merge" -> ratio(bcastCount, merges.size),
      "target.merges" -> merges.size.toDouble,
      "target.merge_ms" -> mean(merges.map(_.ms)),
      "target.jobs_per_merge" -> ratio(merges.map(jobsOf(_).size).sum, merges.size),
      "target.job_ms" -> merges.map(s => s.ms - self(s)).sum,
      "target.driver_ms" -> merges.map(self).sum,
      "target.rows_rewritten_per_input_row" -> ratio(rewritten, in.targetRowsIn.toDouble),
      "target.lookups" -> lookups.size.toDouble,
      "target.lookup_ms" -> mean(lookups.map(_.ms)),
      "target.lookup_driver_ms" -> mean(lookups.map(self)),
      "target.lookup_jobs" -> ratio(lookups.map(jobsOf(_).size).sum, lookups.size),
      "target.lookup_files_read" -> ratio(lookupFiles, lookups.size),
      "jdbc.merges" -> jdbc.size.toDouble,
      "jdbc.merge_ms" -> mean(jdbc.map(_.ms)),
      "jdbc.driver_ms" -> jdbc.map(self).sum,
      "jdbc.rows_per_s" -> ratio(in.jdbcRowsIn * 1000.0, jdbc.map(_.ms).sum),
      "neardup.driver_ms" -> neardupStages.map(self).sum,
      "exec.busy_frac" -> st.runMs.sum() / (window * 4),
      "exec.cpu_ms" -> st.cpuNs.sum() / 1e6,
      "exec.gc_ms" -> st.gcMs.sum().toDouble,
      "exec.shuffle_bytes" -> st.shuffleBytes.sum().toDouble,
      "exec.task_skew" -> (if (tasks.isEmpty) 1.0 else st.taskSkew),
      "trace.listener_ms" -> (st.overheadNs.sum() +
        ctx.streamTrace.map(_.overheadNs.sum()).getOrElse(0L)) / 1e6)
  }

  /** Names absent from `m` default to 0 (layer idle on this workload). */
  def complete(m: Map[String, Double]): Map[String, Double] =
    PerLayer.map { case (n, _) => n -> m.getOrElse(n, 0.0) }.toMap
}
