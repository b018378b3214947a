package ingestbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.model.IngestConfig
import graft.sink.MergeSink

/** One timed interval. Times are epoch milliseconds on one clock; `trace`
  * is the batch id, lookup number or pass number the span belongs to. */
final case class Span(id: Long, name: String, start: Double, end: Double,
    parent: Long, trace: String, ok: Boolean = true) {
  def ms: Double = end - start
  def json: String =
    f"""{"id":$id,"name":"$name","start":$start%.3f,"end":$end%.3f,"parent":$parent,"trace":"$trace","ok":$ok}"""
}

/** Span recorder. Spans are always timed (the end-to-end metrics are
  * computed from them); with `on` the current span id is also published
  * as a Spark local property, so the listeners can parent every Spark
  * job to the benchmark call that submitted it. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  val spans = new ConcurrentLinkedQueue[Span]()

  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = { spans.add(s); () }

  def span[A](name: String, trace: String)(f: => A): A = {
    val id = newId()
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    val parent = Option(prev).map(_.toLong).getOrElse(0L)
    if (on) sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val st = now()
    var ok = false
    try { val r = f; ok = true; r }
    finally {
      add(Span(id, name, st, now(), parent, trace, ok))
      if (on) sc.setLocalProperty(Tracer.SpanKey, prev)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def dump(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      all.sortBy(_.start).map(_.json).mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }
}

object Tracer {
  val SpanKey = "ingestbench.span"
  val BatchKey = "streaming.sql.batchId"

  /** Length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var tot = 0.0; var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) tot += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) tot += curB - curA
    tot
  }

  /** A span's self time: its duration minus what its children cover. */
  def selfMs(s: Span, children: Seq[Span]): Double =
    s.ms - covered(children.map(c => (c.start, c.end)), s.start, s.end)
}

/** Benchmark-side sink wrapper: times every call into the wrapped sink
  * as a span named `<name>.<op>` whose trace id is the micro-batch id
  * the engine is running (read from the stream thread's local property). */
final class TimedSink(name: String, inner: MergeSink, tracer: Tracer,
    sc: SparkContext) extends MergeSink {
  private def call(op: String)(f: => Unit): Unit = {
    val batch = Option(sc.getLocalProperty(Tracer.BatchKey)).getOrElse("-1")
    tracer.span(s"$name.$op", batch)(f)
  }
  override def mergeUpsert(batch: DataFrame, config: IngestConfig): Unit =
    call("upsert")(inner.mergeUpsert(batch, config))
  override def mergeSoftDelete(batch: DataFrame, config: IngestConfig): Unit =
    call("softdelete")(inner.mergeSoftDelete(batch, config))
  override def mergeHardDelete(batch: DataFrame, config: IngestConfig): Unit =
    call("harddelete")(inner.mergeHardDelete(batch, config))
}

/** Micro-batch progress as spans: `engine.batch` (triggerExecution) with
  * the addBatch share recorded alongside. */
final class StreamTrace(tracer: Tracer) extends StreamingQueryListener {
  final case class Batch(id: Long, start: Double, triggerMs: Double, addBatchMs: Double)
  val batches = new ConcurrentLinkedQueue[Batch]()
  val overheadNs = new LongAdder

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val t = System.nanoTime()
    val p = e.progress
    val trig = p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
    val add = Option(p.durationMs.get("addBatch")).map(_.toDouble).getOrElse(0.0)
    if (p.numInputRows > 0) {
      val st = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      batches.add(Batch(p.batchId, st, trig, add))
      tracer.add(Span(tracer.newId(), "engine.batch", st, st + trig, 0L, p.batchId.toString))
    }
    overheadNs.add(System.nanoTime() - t)
  }
}

/** Spark-side counters, registered only in traced runs: job spans
  * parented to the benchmark span that submitted them, executor task
  * totals, per-stage task times, and SQL plan metrics per execution. */
final class SparkTrace(tracer: Tracer) extends SparkListener {
  /** One SQL metric: its execution, plan node, node description, metric
    * name, and the description of the node's parent operator (code-gen
    * stage wrappers skipped). */
  final case class Acc(exec: Long, node: String, desc: String, metric: String,
      parentDesc: String)

  private val jobs = new ConcurrentHashMap[Int, (Double, Long, Long)]()
  /** SQL execution id -> the benchmark span its jobs ran under. */
  val execSpan = new ConcurrentHashMap[Long, Long]()
  val runMs = new LongAdder
  val cpuNs = new LongAdder
  val gcMs = new LongAdder
  val shuffleBytes = new LongAdder
  val stageTasks = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  val accMeta = new ConcurrentHashMap[Long, Acc]()
  val accValue = new ConcurrentHashMap[Long, Long]()
  val overheadNs = new LongAdder

  /** Restart the executor counters (at the start of the timed window). */
  def resetCounters(): Unit = {
    Seq(runMs, cpuNs, gcMs, shuffleBytes).foreach(_.reset())
    stageTasks.clear()
  }

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    try f finally overheadNs.add(System.nanoTime() - t)
  }

  private def setMax(id: Long, v: Any): Unit = v match {
    case l: Long => accValue.merge(id, l, (a, b) => math.max(a, b)); ()
    case _ => ()
  }

  private def register(exec: Long, p: SparkPlanInfo, parentDesc: String = ""): Unit = {
    p.metrics.foreach(m => accMeta.put(m.accumulatorId,
      Acc(exec, p.nodeName, p.simpleString, m.name, parentDesc)))
    val wrapper = p.nodeName.startsWith("WholeStageCodegen") || p.nodeName == "InputAdapter"
    p.children.foreach(register(exec, _, if (wrapper) parentDesc else p.simpleString))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, (e.time.toDouble, parent, exec))
    if (exec >= 0 && parent > 0) execSpan.putIfAbsent(exec, parent)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.remove(e.jobId)).foreach { case (st, parent, exec) =>
      tracer.add(Span(tracer.newId(), "job", st, e.time.toDouble, parent, exec.toString,
        e.jobResult == JobSucceeded))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    Option(e.taskMetrics).foreach { m =>
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
    }
    stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
      .add(e.taskInfo.duration)
    e.taskInfo.accumulables.foreach(a => a.value.foreach(setMax(a.id, _)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    e.stageInfo.accumulables.values.foreach(a => a.value.foreach(setMax(a.id, _)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
    e match {
      case s: SparkListenerSQLExecutionStart => register(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => register(u.executionId, u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates => d.accumUpdates.foreach { case (id, v) => setMax(id, v) }
      case _ => ()
    }
  }

  /** Every SQL metric that received a value, with that value. */
  def sqlMetrics: Seq[(Acc, Long)] =
    accValue.asScala.toSeq.flatMap { case (id, v) => Option(accMeta.get(id)).map(_ -> v) }

  /** Worst stage's max ÷ median task time (stages with >= 4 tasks). */
  def taskSkew: Double = {
    val r = stageTasks.values.asScala.map(_.asScala.toSeq.map(_.toDouble)).filter(_.size >= 4)
      .map(ts => ts.max / math.max(1.0, Stats.median(ts)))
    if (r.isEmpty) 1.0 else r.max
  }
}
