package ingestbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the span recorder, the
  * listeners (traced runs only), its private work dir and the seed. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Int, val work: Path, val sparkTrace: Option[SparkTrace],
    val streamTrace: Option[StreamTrace]) {
  def traced: Boolean = tracer.on
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** One workload: `setup` prepares inputs and warms the engine, `run`
  * measures for the given seconds, `verify` checks outputs against the
  * oracles (messages of every failed check; empty when correct). */
trait Workload {
  def setup(): Unit
  def run(seconds: Int): Unit
  def verify(): Seq[String]
  def endToEnd: Map[String, Double]
  def perLayer: Map[String, Double]
  def attempted: Long
  def failed: Long
}

object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "records_per_s" -> "1/s",
    "freshness_p50_ms" -> "ms", "freshness_tail_ms" -> "ms",
    "lookup_p50_ms" -> "ms", "lookup_tail_ms" -> "ms",
    "write_amp" -> "ratio", "rss_peak_mb" -> "MiB")

  val Workloads = Seq("hot_keys_fanout", "cdc_small_batch_reads", "corpus_neardup")

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Args(w, need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work")), Paths.get(need("--out")))
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--selftest")) sys.exit(SelfTest.run())
    // A crash exits 1 without a result line, even while Spark threads live.
    try run(parse(argv))
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
  }

  private def run(a: Args): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Files.createDirectories(a.work)
    System.setProperty("derby.system.home", a.work.resolve("derby").toString)
    val spark = graft.engine.GraftSession.builder("ingestbench", 4)
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[ingestbench] session ready at ${(System.currentTimeMillis() - jvmStart) / 1000}%.1f s")
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val sparkTrace = if (a.trace) Some(new SparkTrace(tracer)) else None
    val streamTrace = if (a.trace) Some(new StreamTrace(tracer)) else None
    sparkTrace.foreach(spark.sparkContext.addSparkListener)
    streamTrace.foreach(spark.streams.addListener)
    val ctx = new Ctx(spark, tracer, a.seed, a.seconds, a.work, sparkTrace, streamTrace)
    val wl: Workload = a.workload match {
      case "hot_keys_fanout" => new HotKeys(ctx)
      case "cdc_small_batch_reads" => new Cdc(ctx)
      case "corpus_neardup" => new Corpus(ctx)
    }
    wl.setup()
    val setupS = (tracer.now() - jvmStart) / 1000.0
    System.err.println(f"[ingestbench] set-up done at $setupS%.1f s")
    wl.run(a.seconds)
    val problems = wl.verify()
    problems.foreach(p => System.err.println(s"[ingestbench] CHECK FAILED: $p"))
    val metrics: Seq[(String, Double, String)] =
      if (a.trace) {
        val untraced = a.out.resolve(s"untraced-${a.workload}-${a.seed}.json")
        val t = TraceSummary.complete(wl.perLayer) ++ Map(
          "trace.records_per_s_overhead_frac" -> tracingOverhead(untraced, wl.endToEnd("records_per_s")))
        Files.createDirectories(a.out)
        tracer.dump(a.out.resolve(s"spans-${a.workload}-${a.seed}.jsonl"))
        TraceSummary.PerLayer.map { case (n, u) =>
          (n, t.getOrElse(n, throw new IllegalStateException(s"per-layer metric $n not computed")), u)
        }
      } else {
        val m = wl.endToEnd + ("setup_s" -> setupS) + ("rss_peak_mb" -> Proc.rssPeakMb())
        val out = EndToEnd.map { case (n, u) =>
          (n, m.getOrElse(n, throw new IllegalStateException(s"metric $n not computed")), u)
        }
        Files.createDirectories(a.out)
        Files.write(a.out.resolve(s"untraced-${a.workload}-${a.seed}.json"),
          out.map { case (n, v, _) => s"$n=$v" }.mkString("\n").getBytes("UTF-8"))
        out
      }
    spark.stop()
    val correct = problems.isEmpty
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, wl.attempted)}, """ +
      s""""failed": ${wl.failed}, "metrics": {$body}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 2)
  }

  /** Relative throughput lost to tracing: 1 - traced / untraced
    * records_per_s, against the untraced run of the same workload and
    * seed in this checkout (0 when there is none yet). */
  private def tracingOverhead(untraced: Path, tracedRps: Double): Double =
    if (!Files.exists(untraced)) 0.0
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(untraced).asScala.collectFirst {
        case l if l.startsWith("records_per_s=") => 1.0 - tracedRps / l.stripPrefix("records_per_s=").toDouble
      }.getOrElse(0.0)
    }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else java.math.BigDecimal.valueOf(v).toPlainString

  /** Percentile summary helpers shared by the workloads. `xs` must hold
    * independent samples (one per query, released file, batch or pass),
    * never copies of one measurement. The closed-loop workloads have too
    * few freshness samples for any percentile to have ten beyond it and
    * report their slowest round or pass as the freshness tail instead. */
  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  def tail(xs: Seq[Double], what: String): Double = {
    if (xs.isEmpty) return 0.0
    val allowed = Stats.tailPercentile(xs.size, Stats.TailCandidates)
    if (!allowed.exists(_ >= Stats.TailPct))
      System.err.println(s"[ingestbench] WARNING: only ${xs.size} $what samples; " +
        s"p${Stats.TailPct} has fewer than 10 beyond it (the tail rule allows ${allowed.fold("none")("p" + _)})")
    Stats.percentile(xs, Stats.TailPct)
  }
}

/** Closed-loop reader: one thread issuing a query back to back until
  * stopped; latencies of successful queries and the failure count. */
final class Reader(tracer: Tracer, name: String)(query: Int => Unit) {
  @volatile private var stop = false
  val latencies = mutable.ArrayBuffer.empty[Double]
  private val tried = new java.util.concurrent.atomic.AtomicLong
  private val errors = new java.util.concurrent.atomic.AtomicLong
  @volatile var firstError: Option[String] = None
  private val thread = new Thread(() => {
    var i = 0
    while (!stop) {
      i += 1
      tried.incrementAndGet()
      val t = tracer.now()
      try {
        tracer.span(name, i.toString)(query(i))
        latencies.synchronized(latencies += tracer.now() - t)
      } catch {
        case e: Throwable =>
          errors.incrementAndGet()
          if (firstError.isEmpty) firstError = Some(e.toString)
      }
    }
  }, "ingestbench-reader")
  thread.setDaemon(true)

  def start(): Unit = thread.start()
  /** Drop what was measured so far (warm-up) and start counting afresh. */
  def reset(): Unit = latencies.synchronized {
    latencies.clear(); tried.set(0); errors.set(0)
  }
  def attempted: Long = tried.get
  def failed: Long = errors.get
  def halt(): Unit = { stop = true; thread.join() }
  /** One latency per successful query. */
  def samples: Seq[Double] = latencies.synchronized(latencies.toSeq)
}
