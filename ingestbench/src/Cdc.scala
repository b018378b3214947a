package ingestbench

import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit, sha1, substring}
import org.apache.spark.sql.types._

import graft.engine.{Sources, UpsertStream}
import graft.model.{IngestConfig, TargetTable}
import graft.sink.{MergeSink, ParquetTarget}

/** Routes one CDC micro-batch to the single writer of a target: upsert
  * rows to `mergeUpsert`, then delete rows to `mergeSoftDelete`. */
final class CdcAdapter(target: MergeSink) extends MergeSink {
  override def mergeUpsert(batch: DataFrame, config: IngestConfig): Unit = {
    target.mergeUpsert(batch.where(col("op") === "U").drop("op"), config)
    target.mergeSoftDelete(batch.where(col("op") === "D")
      .select("pkey", "modified_date", "seq"), config)
  }
  override def mergeSoftDelete(batch: DataFrame, config: IngestConfig): Unit =
    throw new UnsupportedOperationException("deletes arrive inside the CDC batch")
  override def mergeHardDelete(batch: DataFrame, config: IngestConfig): Unit =
    throw new UnsupportedOperationException("deletes arrive inside the CDC batch")
}

/** cdc_small_batch_reads — open loop. Pre-staged 100-record files are
  * renamed into the source dir at a fixed rate while `UpsertStream`
  * merges them into one preloaded bucketed parquet target; a reader
  * thread looks up small random key sets in the same target throughout.
  * Files released while a merge runs group into the next micro-batch. */
final class Cdc(ctx: Ctx) extends Workload {
  import Cdc._

  private val spark = ctx.spark
  private val sc = spark.sparkContext
  private val tracer = ctx.tracer
  private val staging = ctx.dir("staging")
  private val src = ctx.dir("src")
  private val ckpt = ctx.work.resolve("ckpt").toString
  private val targetDir = ctx.dir("targets").resolve("cdc")
  private val table = TargetTable("cdc", targetDir.toString, tieBreakCols = Seq("seq"),
    buckets = Buckets, retainVersions = 2)
  private val schema = StructType(Seq(
    StructField("pkey", LongType), StructField("modified_date", LongType),
    StructField("seq", LongType), StructField("payload", StringType),
    StructField("op", StringType)))
  private val config = IngestConfig(name = "cdc_small_batch_reads",
    maxWriterPartitions = 4, maxRecordsPerTrigger = 100000L,
    checkpointDir = Some(ckpt))
  private val adapter = new TimedSink("adapter",
    new CdcAdapter(new TimedSink("target", new ParquetTarget(spark, table), tracer, sc)),
    tracer, sc)
  private val stream = new UpsertStream(config, adapter, ckpt)

  private val gen = new CdcGen(ctx.seed, PreloadRows)
  private val files = mutable.LinkedHashMap.empty[String, (Vector[Rec], Long)]
  private val warmup = mutable.ArrayBuffer.empty[String]
  private val timed = mutable.ArrayBuffer.empty[String]
  private val due = mutable.HashMap.empty[String, Double]
  private val lateness = mutable.ArrayBuffer.empty[Double]
  private var t0, t1 = 0.0
  private var streamError: Option[String] = None
  private val problems = mutable.ArrayBuffer.empty[String]
  private val watcher = new DirWatcher(Seq(targetDir))
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _

  private val readerTarget = new ParquetTarget(spark, table)
  private val readerRnd = new SplittableRandom(ctx.seed ^ 0x2545f4914f6cdd1dL)
  private val seenOrd = mutable.HashMap.empty[Long, (Long, Long)]
  private val reader = new Reader(tracer, "lookup")(_ => {
    val keys = Iterator.continually(readerRnd.nextLong(PreloadRows)).distinct.take(LookupKeys).toSeq
    val rows = readerTarget.lookup(spark.createDataFrame(keys.map(Tuple1(_))).toDF("pkey"))
      .map(_.select("pkey", "modified_date", "seq", "payload").collect().toSeq).getOrElse(Nil)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val bad = (if (rows.map(_._1).sorted != keys.sorted)
        Some(s"lookup of ${keys.sorted} returned keys ${rows.map(_._1).sorted}") else None)
      .orElse(rows.collectFirst { case r @ (k, v, s, p) if p != Gen.payload(k, v, s) =>
        s"lookup returned a row that was never generated: $r" })
      .orElse(rows.collectFirst { case (k, v, s, _) if seenOrd.get(k).exists(o => Ordering[(Long, Long)].lt((v, s), o)) =>
        s"lookup of key $k went back to version ($v,$s) after ${seenOrd(k)}" })
    bad.foreach(b => problems.synchronized(problems += b))
    rows.foreach { case (k, v, s, _) => seenOrd(k) = (v, s) }
  })

  private def stage(n: Int): Vector[String] = Vector.fill(n) {
    val name = f"c${files.size}%06d.json"
    val recs = gen.file()
    files(name) = (recs, Gen.writeLines(staging.resolve(name), recs.iterator.map(Gen.json(_, routed = false))))
    name
  }

  private def release(name: String): Unit =
    Files.move(staging.resolve(name), src.resolve(name), StandardCopyOption.ATOMIC_MOVE)

  private def fileBatch() = SourceLog.fileBatches(new java.io.File(ckpt, "sources/0"))
  private def batchDone(): Map[Long, Double] = tracer.all.filter(_.name.startsWith("adapter."))
    .groupBy(_.trace.toLong).map { case (b, ss) => b -> ss.map(_.end).max }

  /** Block until every file in `names` sits in a batch whose sink call
    * returned (or the stream died / the timeout passed). */
  private def awaitCommitted(names: Seq[String], timeoutMs: Double): Boolean = {
    val until = tracer.now() + timeoutMs
    def done = {
      val fb = fileBatch(); val bd = batchDone()
      names.forall(n => fb.get(n).exists(bd.contains))
    }
    while (!done && query.isActive && tracer.now() < until) Thread.sleep(50)
    done
  }

  override def setup(): Unit = {
    val preload = spark.range(PreloadRows).select(col("id").as("pkey"),
      lit(CdcGen.PreloadOrd._1).as("modified_date"), lit(CdcGen.PreloadOrd._2).as("seq"),
      concat(lit("k"), col("id"), lit(s"v${CdcGen.PreloadOrd._1}s${CdcGen.PreloadOrd._2}-"),
        substring(sha1(col("id").cast("string")), 1, 24)).as("payload"),
      lit(true).as("row_active"))
    new ParquetTarget(spark, table).mergeUpsert(preload, config.copy(maxWriterPartitions = 1))
    warmup ++= stage(WarmupFiles)
    timed ++= stage(math.ceil(ReleasePerS * ctx.seconds).toInt)
    query = stream.run(Sources.json(spark, config, schema, src.toString, CdcGen.RecordsPerFile))
    reader.start()
    warmup.foreach(release)
    if (!awaitCommitted(warmup.toSeq, 120000))
      throw new IllegalStateException(s"warm-up batches did not commit: ${query.exception}")
  }

  override def run(seconds: Int): Unit = {
    t0 = tracer.now()
    ctx.sparkTrace.foreach(_.resetCounters())
    reader.reset()
    watcher.baseline()
    // The release clock is this thread: file i is due at t0 + i/rate.
    timed.zipWithIndex.foreach { case (name, i) =>
      val d = t0 + i * 1000.0 / ReleasePerS
      due(name) = d
      var wait = d - tracer.now()
      if (wait > ListingSlackMs) { watcher.poll(); wait = d - tracer.now() }
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1.0) * 1e6).toInt)
      release(name)
      lateness += tracer.now() - d
    }
    val deadline = tracer.now() + DrainTimeoutMs
    while (!awaitCommitted(timed.toSeq, 200) && query.isActive && tracer.now() < deadline)
      watcher.poll()
    watcher.poll()
    streamError = query.exception.map(_.toString)
    t1 = tracer.now()
    reader.halt()
    query.stop()
  }

  private lazy val fb = fileBatch()
  private lazy val done = batchDone()
  private lazy val freshness: Either[String, Map[String, Double]] =
    Freshness.perFile(due.toMap, fb, done)

  override def verify(): Seq[String] = {
    streamError.foreach(e => problems += s"stream failed: $e")
    freshness.left.foreach(problems += _)
    val late = if (lateness.isEmpty) 0.0 else lateness.max
    if (late > LatenessBoundMs)
      problems += f"release clock ran $late%.1f ms late (bound $LatenessBoundMs ms): run invalid"
    val oracle = new LatestWins
    (0L until PreloadRows).foreach(k => oracle.preload(TRow(k, CdcGen.PreloadOrd._1,
      CdcGen.PreloadOrd._2, Gen.payload(k, CdcGen.PreloadOrd._1, CdcGen.PreloadOrd._2), true)))
    val byBatch = files.keys.toSeq.filter(fb.contains).groupBy(fb)
    byBatch.toSeq.sortBy(_._1).foreach { case (_, fs) => oracle.applyBatch(fs.sorted.flatMap(files(_)._1)) }
    val rows = new ParquetTarget(spark, table).read()
      .map(_.select("pkey", "modified_date", "seq", "payload", "row_active").collect().toSeq
        .map(r => TRow(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4))))
      .getOrElse(Nil)
    Oracle.compare("cdc target", oracle.rows.values, rows).left.foreach(problems += _)
    if (reader.failed > 0) System.err.println(s"[ingestbench] lookups failed: ${reader.firstError}")
    problems.toSeq
  }

  private def commitTimes: Seq[Double] = timed.toSeq.flatMap(f => fb.get(f).flatMap(done.get))

  override def endToEnd: Map[String, Double] = {
    // One sample per released file: each file has its own release time.
    val fresh = freshness.getOrElse(Map.empty).values.toSeq
    val last = if (commitTimes.isEmpty) t1 else commitTimes.max
    Map(
      "records_per_s" -> timed.map(files(_)._1.size).sum * 1000.0 / (last - t0),
      "freshness_p50_ms" -> Main.p50(fresh),
      "freshness_tail_ms" -> Main.tail(fresh, "freshness"),
      "lookup_p50_ms" -> Main.p50(reader.samples),
      "lookup_tail_ms" -> Main.tail(reader.samples, "lookup"),
      // Bytes written per second of drain over input bytes per second of
      // release: in a steady open loop this is bytes per admitted byte,
      // without the jump a plain ratio makes when the files happen to
      // need one commit more or less.
      "write_amp" -> (watcher.newBytes / (last - t0)) /
        (timed.map(files(_)._2).sum.toDouble / (ctx.seconds * 1000.0)))
  }

  override def perLayer: Map[String, Double] = {
    val n = timed.map(files(_)._1.size.toLong).sum
    val common = TraceSummary.common(ctx, TraceSummary.Inputs(t0, t1,
      dedupRowsIn = n, targetRowsIn = n, jdbcRowsIn = 0))
    common ++ Map(
      "engine.backlog_growth_files" -> Freshness.backlogGrowth(
        timed.toSeq.map(due), commitTimes, t0, t0 + ctx.seconds * 1000.0),
      "target.bucket_touch_ratio" -> watcher.bucketTouchRatio(Buckets),
      "target.bytes_written" -> watcher.newBytes.toDouble,
      "target.files_written" -> watcher.newFiles.toDouble,
      "run.failed_frac" -> failed.toDouble / attempted,
      "run.release_lateness_max_ms" -> (if (lateness.isEmpty) 0.0 else lateness.max),
      "run.freshness_samples" -> timed.size.toDouble,
      "run.lookup_samples" -> reader.samples.size.toDouble)
  }

  private lazy val timedBatches = timed.flatMap(fb.get).distinct.size.toLong
  override def attempted: Long = timedBatches + (if (streamError.isDefined) 1 else 0) + reader.attempted
  override def failed: Long = (if (streamError.isDefined) 1L else 0L) + reader.failed
}

object Cdc {
  val PreloadRows = 50000L
  val Buckets = 16
  /** Open-loop release rate, files (of 100 records) per second. */
  val ReleasePerS = 3.0
  val WarmupFiles = 2
  val LookupKeys = 8
  /** A run whose release clock is later than this on any file is invalid. */
  val LatenessBoundMs = 250.0
  val ListingSlackMs = 40.0
  val DrainTimeoutMs = 90000.0
}
