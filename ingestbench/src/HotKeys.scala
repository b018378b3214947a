package ingestbench

import java.nio.file.{Files, StandardCopyOption}
import java.sql.DriverManager
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.engine.{MultiTableUpsertStream, Sources}
import graft.model.{IngestConfig, TargetTable}
import graft.sink.{JdbcSink, JdbcTarget, MergeSink, ParquetTarget}

/** hot_keys_fanout — closed loop. Each round stages a backlog of
  * `FilesPerRound` JSON files and drains it with `Trigger.AvailableNow`
  * through `MultiTableUpsertStream`, which routes to two bucketed
  * parquet targets and one Derby table. Keys are Zipf-skewed over small
  * key spaces, so `Dedup` drops most rows and every batch touches every
  * bucket of the small targets. Set-up preloads every target with its
  * route's whole key space through the stream, so target size, and with
  * it the cost of a batch, does not grow with the number of rounds. A
  * reader thread looks up hot keys in one parquet target throughout. */
final class HotKeys(ctx: Ctx) extends Workload {
  import HotKeys._

  private val spark = ctx.spark
  private val sc = spark.sparkContext
  private val tracer = ctx.tracer
  private val gen = new HotKeysGen(ctx.seed)
  private val staging = ctx.dir("staging")
  private val src = ctx.dir("src")
  private val ckpt = ctx.work.resolve("ckpt").toString
  private val targetsDir = ctx.dir("targets")
  private val schema = StructType(Seq(
    StructField("table", StringType), StructField("pkey", LongType),
    StructField("modified_date", LongType), StructField("seq", LongType),
    StructField("payload", StringType)))
  private val tables = Seq("ta", "tb").map(n => n -> TargetTable(n,
    targetsDir.resolve(n).toString, tieBreakCols = Seq("seq"),
    buckets = Buckets, retainVersions = 2)).toMap
  private val dbName = s"hotkeys${ProcessHandle.current().pid()}"
  private val jdbcTarget = JdbcTarget(s"jdbc:derby:memory:$dbName;create=true", "TJ",
    Seq("pkey"), "modified_date", Seq("seq"), batchSize = 500)
  private val config = IngestConfig(name = "hot_keys_fanout",
    maxWriterPartitions = 4,
    maxRecordsPerTrigger = FilesPerBatch.toLong * HotKeysGen.RecordsPerFile,
    checkpointDir = Some(ckpt))
  private val sinks: Map[String, MergeSink] =
    tables.map { case (n, t) =>
      n -> (new TimedSink("target", new ParquetTarget(spark, t), tracer, sc): MergeSink)
    } + ("tj" -> new TimedSink("jdbc", new JdbcSink(jdbcTarget), tracer, sc))
  private val stream = new MultiTableUpsertStream(config, sinks, ckpt, "table")

  private val files = mutable.LinkedHashMap.empty[String, (Vector[Rec], Long)]
  private var timedFiles = Vector.empty[String]
  private val released = mutable.HashMap.empty[String, Double]
  private var drainMs = 0.0
  private var t0, t1 = 0.0
  private var batchesFailed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  private val watcher = new DirWatcher(Seq(targetsDir))

  // Reader: point lookups of hot keys in target `ta`; every requested
  // (preloaded) key must come back exactly once as a generated version,
  // and a key's version never goes backwards between lookups.
  private val readerTarget = new ParquetTarget(spark, tables("ta"))
  private val readerKeys = new Gen.Zipf(HotKeysGen.Routes.head._2, HotKeysGen.ZipfS,
    new SplittableRandom(ctx.seed ^ 0x5deece66dL))
  private val seenOrd = mutable.HashMap.empty[Long, (Long, Long)]
  private val reader = new Reader(tracer, "lookup")(_ => {
    val keys = Iterator.continually(readerKeys.next()).distinct.take(LookupKeys).toSeq
    val rows = readerTarget.lookup(spark.createDataFrame(keys.map(Tuple1(_))).toDF("pkey"))
      .map(_.select("pkey", "modified_date", "seq", "payload").collect().toSeq).getOrElse(Nil)
    checkLookup(keys.toSet, rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))))
  })

  private def checkLookup(keys: Set[Long], rows: Seq[(Long, Long, Long, String)]): Unit = {
    val bad = rows.find { case (k, v, s, p) => !keys(k) || p != Gen.payload(k, v, s) }
      .map(r => s"lookup returned a row that was never generated: $r")
      .orElse(rows.groupBy(_._1).collectFirst { case (k, rs) if rs.size > 1 => s"lookup returned ${rs.size} rows for key $k" })
      .orElse(Some(keys -- rows.map(_._1)).filter(_.nonEmpty).map(m => s"lookup missed preloaded keys $m"))
      .orElse(rows.collectFirst { case (k, v, s, _) if seenOrd.get(k).exists(o => Ordering[(Long, Long)].lt((v, s), o)) =>
        s"lookup of key $k went back to version ($v,$s) after ${seenOrd(k)}" })
    bad.foreach(b => problems.synchronized(problems += b))
    rows.foreach { case (k, v, s, _) => seenOrd(k) = (v, s) }
  }

  private def put(recs: Vector[Rec]): String = {
    val name = f"f${files.size}%06d.json"
    files(name) = (recs, Gen.writeLines(staging.resolve(name), recs.iterator.map(Gen.json(_, routed = true))))
    name
  }

  private def stage(n: Int): Vector[String] = Vector.fill(n)(put(gen.file()))

  /** One file holding every key of each catalogued route at version
    * (0, 0), older than any generated version. Drained on its own it is
    * one micro-batch (the source admits whole files). */
  private def stagePreload(): String = put(
    HotKeysGen.Routes.filter(r => sinks.contains(r._1)).toVector.flatMap { case (route, keys, _) =>
      (0L until keys).map(k => Rec(route, k, 0L, 0L, Gen.payload(k, 0L, 0L), "U"))
    })

  /** Release a staged backlog and drain it, `filesPerBatch` files per
    * micro-batch; returns the drain wall time. */
  private def drain(names: Seq[String], filesPerBatch: Int = FilesPerBatch): Double = {
    val st = tracer.now()
    names.foreach { n =>
      Files.move(staging.resolve(n), src.resolve(n), StandardCopyOption.ATOMIC_MOVE)
      released(n) = st
    }
    val q = stream.run(Sources.json(spark, config, schema, src.toString,
      config.maxRecordsPerTrigger / filesPerBatch), Trigger.AvailableNow())
    try q.awaitTermination()
    catch { case e: Exception =>
      batchesFailed += 1
      problems += s"stream failed: $e"
    }
    tracer.now() - st
  }

  override def setup(): Unit = {
    val conn = DriverManager.getConnection(jdbcTarget.url)
    try conn.createStatement().execute("CREATE TABLE TJ (pkey BIGINT NOT NULL PRIMARY KEY, " +
      "modified_date BIGINT NOT NULL, seq BIGINT NOT NULL, payload VARCHAR(80) NOT NULL)")
    finally conn.close()
    // One query, one file per batch, oldest file first: the warm-up file
    // creates the targets, then the preload batch merges into them, which
    // warms the merge path the timed rounds take.
    val warm = stage(1)
    drain(warm :+ stagePreload(), filesPerBatch = 1)
    reader.start()
    while (reader.attempted < WarmupLookups) Thread.sleep(10)
  }

  override def run(seconds: Int): Unit = {
    t0 = tracer.now()
    ctx.sparkTrace.foreach(_.resetCounters())
    reader.reset()
    watcher.baseline()
    @volatile var polling = true
    val poller = new Thread(() => while (polling) { watcher.poll(); Thread.sleep(200) },
      "ingestbench-lister")
    poller.start()
    while (drainMs < seconds * 1000.0 && batchesFailed == 0) {
      val names = stage(FilesPerRound)
      timedFiles ++= names
      drainMs += drain(names)
    }
    t1 = tracer.now()
    polling = false
    poller.join()
    watcher.poll()
    reader.halt()
  }

  private lazy val fileBatch = SourceLog.fileBatches(new java.io.File(ckpt, "sources/0"))
  private lazy val batchDone: Map[Long, Double] = tracer.all
    .filter(s => s.parent == 0 && (s.name.startsWith("target.") || s.name.startsWith("jdbc.")))
    .groupBy(_.trace.toLong).map { case (b, ss) => b -> ss.map(_.end).max }
  private def timedRecs(route: String): Long =
    timedFiles.map(f => files(f)._1.count(_.route == route).toLong).sum

  override def verify(): Seq[String] = {
    val oracles = Seq("ta", "tb", "tj").map(_ -> new LatestWins).toMap
    val byBatch = files.keys.toSeq.groupBy(f => fileBatch.getOrElse(f, -1L))
    if (byBatch.contains(-1L)) problems += s"files never admitted: ${byBatch(-1L).take(3)}"
    byBatch.toSeq.filter(_._1 >= 0).sortBy(_._1).foreach { case (_, fs) =>
      val recs = fs.sorted.flatMap(files(_)._1)
      oracles.foreach { case (r, o) => o.applyBatch(recs.filter(_.route == r)) }
    }
    tables.foreach { case (n, t) =>
      val rows = new ParquetTarget(spark, t).read().map(_.select("pkey", "modified_date", "seq", "payload")
        .collect().toSeq.map(r => TRow(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), true)))
        .getOrElse(Nil)
      Oracle.compare(n, oracles(n).rows.values, rows).left.foreach(problems += _)
    }
    val conn = DriverManager.getConnection(jdbcTarget.url)
    val jrows = try {
      val rs = conn.createStatement().executeQuery("SELECT pkey, modified_date, seq, payload FROM TJ")
      val b = mutable.ArrayBuffer.empty[TRow]
      while (rs.next()) b += TRow(rs.getLong(1), rs.getLong(2), rs.getLong(3), rs.getString(4), true)
      b.toSeq
    } finally conn.close()
    Oracle.compare("derby TJ", oracles("tj").rows.values, jrows).left.foreach(problems += _)
    try DriverManager.getConnection(s"jdbc:derby:memory:$dbName;drop=true").close()
    catch { case _: java.sql.SQLException => () } // a successful drop reports 08006
    if (reader.failed > 0) System.err.println(s"[ingestbench] lookups failed: ${reader.firstError}")
    problems.toSeq
  }

  /** Freshness, one sample per (round, batch): a round's files are
    * released together and the files of one batch share its return time,
    * so per-file values would only repeat these. */
  private lazy val freshness: Seq[Double] =
    timedFiles.groupBy(f => (released(f), fileBatch(f))).toSeq.map { case ((rel, b), _) =>
      batchDone(b) - rel
    }

  override def endToEnd: Map[String, Double] = {
    val inBytes = timedFiles.map(files(_)._2).sum.toDouble
    val recs = timedFiles.map(files(_)._1.size.toLong).sum.toDouble
    Map(
      "records_per_s" -> recs * 1000.0 / drainMs,
      "freshness_p50_ms" -> Main.p50(freshness),
      // Two or three rounds a run: no percentile has ten samples beyond
      // it, so the tail is the slowest round.
      "freshness_tail_ms" -> freshness.max,
      "lookup_p50_ms" -> Main.p50(reader.samples),
      "lookup_tail_ms" -> Main.tail(reader.samples, "lookup"),
      "write_amp" -> watcher.newBytes / inBytes)
  }

  override def perLayer: Map[String, Double] = {
    val routed = timedRecs("ta") + timedRecs("tb") + timedRecs("tj")
    val common = TraceSummary.common(ctx, TraceSummary.Inputs(t0, t1,
      dedupRowsIn = routed, targetRowsIn = timedRecs("ta") + timedRecs("tb"),
      jdbcRowsIn = timedRecs("tj")))
    common ++ Map(
      "engine.idle_ms" -> 0.0, // closed loop: the engine is never waiting for input
      "target.bucket_touch_ratio" -> watcher.bucketTouchRatio(Buckets),
      "target.bytes_written" -> watcher.newBytes.toDouble,
      "target.files_written" -> watcher.newFiles.toDouble,
      "run.failed_frac" -> failed.toDouble / attempted,
      "run.freshness_samples" -> freshness.size.toDouble,
      "run.lookup_samples" -> reader.samples.size.toDouble)
  }

  private lazy val timedBatches = timedFiles.flatMap(fileBatch.get).distinct.size.toLong
  override def attempted: Long = timedBatches + batchesFailed + reader.attempted
  override def failed: Long = batchesFailed + reader.failed
}

object HotKeys {
  val Buckets = 16
  val FilesPerRound = 8
  val FilesPerBatch = 8
  val WarmupLookups = 2
  val LookupKeys = 8
}
