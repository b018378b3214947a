package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.engine.{MultiTableUpsertStream, QuickStreamBuilder, UpsertStream}
import graft.model.{IngestConfig, TargetTable}
import graft.ops.Dedup
import graft.sink.{MergeSink, ParquetTarget}

/** End-to-end Structured Streaming behavior of the processors (reference
  * lifecycle §3): micro-batched latest-wins ingestion converges to the
  * global per-key arg-max regardless of batch boundaries and arrival
  * order — late/out-of-order data is overwritten-or-ignored exactly as
  * quick_stream's dedup-then-ON-CONFLICT pipeline does. */
case class Ev(pkey: Long, ver: Long, seq: Long, payload: String)

class StreamsSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Targets are versioned dirs + manifest now; resolve through the sink. */
  private def readTarget(t: TargetTable) =
    new ParquetTarget(spark, t).read().get

  test("UpsertStream converges to global latest-wins across micro-batches") {
    implicit val sql = spark.sqlContext
    val events = MemoryStream[Ev]
    val dir = tmp("graft_stream_up_")
    val target = TargetTable("t", s"$dir/target",
      keyCols = Seq("pkey"), versionCol = "ver", tieBreakCols = Seq("seq"))
    val cfg = IngestConfig(name = s"spec-up-${System.nanoTime()}",
      maxWriterPartitions = 2, checkpointDir = Some(s"$dir/ckpt"))

    val q = new UpsertStream(spark, cfg, target)
      .run(events.toDF())
    // batch 1: initial versions; batch 2: one newer, one stale (late), one new key
    events.addData(Ev(1, 10, 1, "a0"), Ev(2, 20, 2, "b0"), Ev(1, 12, 3, "a1"))
    q.processAllAvailable()
    events.addData(Ev(1, 11, 4, "late-stale"), Ev(2, 25, 5, "b1"), Ev(3, 1, 6, "c0"))
    q.processAllAvailable()
    q.stop()

    val state = readTarget(target)
      .collect().map(r => r.getAs[Long]("pkey") -> r.getAs[String]("payload")).toMap
    assert(state == Map(1L -> "a1", 2L -> "b1", 3L -> "c0"))
  }

  test("batch boundaries don't matter: one batch vs many, same final state") {
    implicit val sql = spark.sqlContext
    val all = Seq(
      Ev(1, 5, 1, "x1"), Ev(1, 9, 2, "x2"), Ev(2, 3, 3, "y1"),
      Ev(2, 2, 4, "stale"), Ev(3, 7, 5, "z1"), Ev(1, 9, 6, "tie-hi"))

    def runWith(batches: Seq[Seq[Ev]], tag: String): Map[Long, String] = {
      val events = MemoryStream[Ev]
      val dir = tmp(s"graft_stream_$tag")
      val target = TargetTable("t", s"$dir/target",
        keyCols = Seq("pkey"), versionCol = "ver", tieBreakCols = Seq("seq"))
      val cfg = IngestConfig(name = s"spec-$tag-${System.nanoTime()}",
        maxWriterPartitions = 2, checkpointDir = Some(s"$dir/ckpt"))
      val q = new UpsertStream(spark, cfg, target).run(events.toDF())
      batches.foreach { b => events.addData(b); q.processAllAvailable() }
      q.stop()
      readTarget(target)
        .collect().map(r => r.getAs[Long]("pkey") -> r.getAs[String]("payload")).toMap
    }

    val oneShot = runWith(Seq(all), "one")
    val perRow = runWith(all.map(Seq(_)), "many")
    val expected = Dedup.latestWins(all.toDF(), Seq("pkey"), "ver", Seq("seq"))
      .collect().map(r => r.getAs[Long]("pkey") -> r.getAs[String]("payload")).toMap
    assert(oneShot == expected)
    assert(perRow == expected)
  }

  test("MultiTableUpsertStream routes by table column; unknown tables dropped") {
    implicit val sql = spark.sqlContext
    val events = MemoryStream[(String, Long, Long, Long, String)]
    val dir = tmp("graft_stream_multi_")
    def tt(n: String) = TargetTable(n, s"$dir/$n",
      keyCols = Seq("pkey"), versionCol = "ver", tieBreakCols = Seq("seq"))
    val catalog = Map("alpha" -> tt("alpha"), "beta" -> tt("beta"))
    val cfg = IngestConfig(name = s"spec-multi-${System.nanoTime()}",
      maxWriterPartitions = 2, checkpointDir = Some(s"$dir/ckpt"))

    val src = events.toDF().toDF("table", "pkey", "ver", "seq", "payload")
    val q = new MultiTableUpsertStream(spark, cfg, catalog).run(src)
    events.addData(
      ("alpha", 1L, 10L, 1L, "a"), ("beta", 1L, 10L, 2L, "b"),
      ("alpha", 1L, 12L, 3L, "a2"), ("ghost", 9L, 1L, 4L, "dropped"))
    q.processAllAvailable()
    q.stop()

    val alpha = readTarget(catalog("alpha"))
      .collect().map(r => (r.getAs[Long]("pkey"), r.getAs[String]("payload")))
    val beta = readTarget(catalog("beta"))
      .collect().map(r => (r.getAs[Long]("pkey"), r.getAs[String]("payload")))
    assert(alpha.toSeq == Seq((1L, "a2")))
    assert(beta.toSeq == Seq((1L, "b")))
    // routing column is dropped before merge, like the reference's
    // per-table statement dispatch (multi_table_upsert.rs:288-293)
    assert(!readTarget(catalog("alpha")).columns.contains("table"))
  }

  test("builder-constructed soft DeleteStream tombstones via streaming") {
    implicit val sql = spark.sqlContext
    val dir = tmp("graft_stream_del_")
    val target = TargetTable("t", s"$dir/target",
      keyCols = Seq("pkey"), versionCol = "ver", tieBreakCols = Seq("seq"))

    // Seed the target with an initial upsert run.
    val up = MemoryStream[Ev]
    val upQ = new QuickStreamBuilder(spark)
      .withName(s"spec-del-seed-${System.nanoTime()}")
      .withMaxConCount(2).withMaxRecordsPerCycleBatch(100L)
      .withCheckpointDir(s"$dir/ckpt_up").withTarget(target)
      .buildUpsert().run(up.toDF())
    up.addData(Ev(1, 10, 1, "a"), Ev(2, 20, 2, "b"))
    upQ.processAllAvailable(); upQ.stop()

    val del = MemoryStream[Ev]
    val delQ = new QuickStreamBuilder(spark)
      .withName(s"spec-del-${System.nanoTime()}")
      .withMaxConCount(2).withMaxRecordsPerCycleBatch(100L)
      .withCheckpointDir(s"$dir/ckpt_del").withTarget(target)
      .withSoftDelete(true)
      .buildDelete().run(del.toDF())
    del.addData(Ev(1, 15, 3, "tomb"), Ev(2, 19, 4, "stale-tomb"))
    delQ.processAllAvailable(); delQ.stop()

    val state = readTarget(target)
      .collect().map(r => r.getAs[Long]("pkey") -> r.getAs[Boolean]("row_active")).toMap
    assert(state == Map(1L -> false, 2L -> true))
  }

  test("upsert after soft delete conforms batch schema (flag defaults true)") {
    implicit val sql = spark.sqlContext
    val dir = tmp("graft_stream_updel_")
    val target = TargetTable("t", s"$dir/target",
      keyCols = Seq("pkey"), versionCol = "ver", tieBreakCols = Seq("seq"))

    val up1 = MemoryStream[Ev]
    val q1 = new UpsertStream(spark, IngestConfig(name = s"updel-a-${System.nanoTime()}",
      maxWriterPartitions = 2, checkpointDir = Some(s"$dir/ck1")), target).run(up1.toDF())
    up1.addData(Ev(1, 10, 1, "a"), Ev(2, 10, 2, "b"))
    q1.processAllAvailable(); q1.stop()

    val del = MemoryStream[Ev]
    val q2 = new graft.engine.DeleteStream(spark, IngestConfig(
      name = s"updel-b-${System.nanoTime()}",
      maxWriterPartitions = 2, checkpointDir = Some(s"$dir/ck2")), target).run(del.toDF())
    del.addData(Ev(1, 11, 3, "tomb"))
    q2.processAllAvailable(); q2.stop()

    // The target now carries row_active; a plain upsert batch (without the
    // flag) must still merge — ADVICE r1: this used to AnalysisException.
    val up2 = MemoryStream[Ev]
    val q3 = new UpsertStream(spark, IngestConfig(name = s"updel-c-${System.nanoTime()}",
      maxWriterPartitions = 2, checkpointDir = Some(s"$dir/ck3")), target).run(up2.toDF())
    up2.addData(Ev(2, 12, 4, "b2"), Ev(3, 1, 5, "c"))
    q3.processAllAvailable(); q3.stop()

    val state = readTarget(target)
      .collect().map(r => r.getAs[Long]("pkey") ->
        ((r.getAs[String]("payload"), r.getAs[Boolean]("row_active")))).toMap
    assert(state == Map(
      1L -> (("a", false)),    // soft-deleted row survives with flag off
      2L -> (("b2", true)),    // updated; incoming defaulted to active
      3L -> (("c", true))))    // inserted; defaulted to active
  }

  test("MultiTableDeleteStream (builder-built) soft-deletes per routed table") {
    implicit val sql = spark.sqlContext
    val dir = tmp("graft_stream_mdel_")
    def tt(n: String) = TargetTable(n, s"$dir/$n",
      keyCols = Seq("pkey"), versionCol = "ver", tieBreakCols = Seq("seq"))
    val catalog = Map("alpha" -> tt("alpha"), "beta" -> tt("beta"))

    // seed both tables through the multi-table upsert path
    val up = MemoryStream[(String, Long, Long, Long, String)]
    val upQ = new MultiTableUpsertStream(spark,
      IngestConfig(name = s"mdel-seed-${System.nanoTime()}",
        maxWriterPartitions = 2, checkpointDir = Some(s"$dir/ck_up")), catalog)
      .run(up.toDF().toDF("table", "pkey", "ver", "seq", "payload"))
    up.addData(("alpha", 1L, 10L, 1L, "a"), ("beta", 1L, 10L, 2L, "b"))
    upQ.processAllAvailable(); upQ.stop()

    // the reference cannot even construct this processor via its builder
    // (SURVEY.md §2.2 gap); here it is first-class
    val del = MemoryStream[(String, Long, Long, Long, String)]
    val delQ = new QuickStreamBuilder(spark)
      .withName(s"mdel-${System.nanoTime()}")
      .withMaxConCount(2).withMaxRecordsPerCycleBatch(100L)
      .withCheckpointDir(s"$dir/ck_del").withCatalog(catalog)
      .withSoftDelete(true)
      .buildMultiTableDelete()
      .run(del.toDF().toDF("table", "pkey", "ver", "seq", "payload"))
    del.addData(("alpha", 1L, 11L, 3L, "tomb"))
    delQ.processAllAvailable(); delQ.stop()

    val alpha = readTarget(catalog("alpha")).collect()
      .map(r => r.getAs[Long]("pkey") -> r.getAs[Boolean]("row_active")).toMap
    assert(alpha == Map(1L -> false)) // routed tombstone applied
    // no tombstones routed to beta → its sink never ran: no flag column,
    // payload untouched
    val betaDf = readTarget(catalog("beta"))
    assert(!betaDf.columns.contains("row_active"))
    assert(betaDf.collect().map(_.getAs[String]("payload")).toSeq == Seq("b"))
  }

  test("target recovers committed state when the manifest is lost mid-swap") {
    implicit val sql = spark.sqlContext
    val dir = tmp("graft_stream_crash_")
    val target = TargetTable("t", s"$dir/target",
      keyCols = Seq("pkey"), versionCol = "ver", tieBreakCols = Seq("seq"))
    val sink = new ParquetTarget(spark, target)
    val cfg = IngestConfig(name = "crash", maxWriterPartitions = 2)
    sink.mergeUpsert(Seq(Ev(1, 10, 1, "a"), Ev(2, 20, 2, "b")).toDF(), cfg)
    sink.mergeUpsert(Seq(Ev(1, 15, 3, "a2")).toDF(), cfg)
    // Simulate a crash in the repoint window: manifest gone, version dirs
    // intact. read() must resolve the newest complete version, not None.
    val fs = new org.apache.hadoop.fs.Path(target.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(target.path, "_LATEST"), false)
    val state = sink.read().get
      .collect().map(r => r.getAs[Long]("pkey") -> r.getAs[String]("payload")).toMap
    assert(state == Map(1L -> "a2", 2L -> "b"))
    // And the next merge commits on top of the recovered version.
    sink.mergeUpsert(Seq(Ev(3, 1, 4, "c")).toDF(), cfg)
    assert(sink.read().get.count() == 3)
  }

  // ---- multi-table fan-out: concurrency, routing jobs, local properties ----

  private val BatchKey = "streaming.sql.batchId"

  /** One sink call as the sink saw it: its thread, the batch id local
    * property, and the slice's columns. */
  private final case class Call(thread: String, batchId: String, columns: Seq[String])

  /** Sink that records each call and runs no Spark job; with a latch it
    * first counts down and then waits (30 s) for every other holder of
    * the latch, so it only returns if the sinks of one batch run at
    * once. With `inner` it then merges into it. */
  private final class Rendezvous(latch: Option[CountDownLatch],
      inner: Option[MergeSink] = None) extends MergeSink {
    val calls = new ConcurrentLinkedQueue[Call]()
    override def mergeUpsert(b: DataFrame, c: IngestConfig): Unit = {
      calls.add(Call(Thread.currentThread().getName,
        spark.sparkContext.getLocalProperty(BatchKey), b.columns.toSeq))
      latch.foreach { l =>
        l.countDown()
        if (!l.await(30, TimeUnit.SECONDS))
          throw new IllegalStateException("the other sinks of the batch never started")
      }
      inner.foreach(_.mergeUpsert(b, c))
    }
    override def mergeSoftDelete(b: DataFrame, c: IngestConfig): Unit = ()
    override def mergeHardDelete(b: DataFrame, c: IngestConfig): Unit = ()
  }

  /** A started Spark job: its graft.op tag, batch id, query id and tasks. */
  private final case class Job(tag: Option[String], batchId: Option[String],
      queryId: Option[String], tasks: Int)

  /** Every job started while `f` runs. */
  private def jobProps(f: => Unit): Seq[Job] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        seen.add(Job(prop(ParquetTarget.OpKey), prop(BatchKey),
          prop("sql.streaming.queryId"), e.stageInfos.map(_.numTasks).sum))
        ()
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try f
    finally {
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }

  /** A stream holding `rows` as one batch of 4 partitions, routed by
    * column `table`. */
  private def routed(rows: (String, Long, Long, Long, String)*)(
      implicit sql: org.apache.spark.sql.SQLContext): DataFrame = {
    val events = MemoryStream[(String, Long, Long, Long, String)](4)
    events.addData(rows)
    events.toDF().toDF("table", "pkey", "ver", "seq", "payload")
  }

  test("multi-table fan-out applies the tables of one batch concurrently") {
    implicit val sql = spark.sqlContext
    val dir = tmp("graft_fanout_latch_")
    val latch = new CountDownLatch(2)
    val sinks = Map[String, MergeSink](
      "alpha" -> new Rendezvous(Some(latch)), "beta" -> new Rendezvous(Some(latch)))
    val cfg = IngestConfig(name = s"fanout-latch-${System.nanoTime()}",
      maxWriterPartitions = 2, checkpointDir = Some(s"$dir/ckpt"))
    val src = routed(("alpha", 1L, 1L, 1L, "a"), ("beta", 1L, 1L, 2L, "b"))
    val q = new MultiTableUpsertStream(cfg, sinks, s"$dir/ckpt", "table")
      .run(src, Trigger.AvailableNow())
    q.awaitTermination() // throws if a sink's rendezvous timed out
    assert(latch.getCount == 0)
    assert(sinks.values.forall(_.asInstanceOf[Rendezvous].calls.size == 1))
  }

  test("multi-table fan-out routes a batch in exactly one Spark job, " +
      "of one task per slot share of each sink") {
    implicit val sql = spark.sqlContext
    val dir = tmp("graft_fanout_route_")
    val sinks = Seq("r1", "r2", "r3").map(n => n -> new Rendezvous(None)).toMap
    val cfg = IngestConfig(name = s"fanout-route-${System.nanoTime()}",
      maxWriterPartitions = 2, checkpointDir = Some(s"$dir/ckpt"))
    val src = routed(("r1", 1L, 1L, 1L, "a"), ("r2", 1L, 1L, 2L, "b"),
      ("r3", 2L, 1L, 3L, "c"), ("ghost", 3L, 1L, 4L, "dropped"))
    var queryId = ""
    val jobs = jobProps {
      val q = new MultiTableUpsertStream(cfg, sinks, s"$dir/ckpt", "table")
        .run(src, Trigger.AvailableNow())
      queryId = q.id.toString
      q.awaitTermination()
    }
    val batchJobs = jobs.filter(_.queryId.contains(queryId))
    assert(batchJobs.size == 1, s"routing ran ${batchJobs.size} jobs: $batchJobs")
    assert(batchJobs.forall(_.batchId.contains("0")))
    // 4 source partitions, 4 task slots shared by 3 sinks: one partition
    assert(batchJobs.head.tasks == 1, s"$batchJobs")
    sinks.foreach { case (n, s) =>
      val calls = s.calls.asScala.toSeq
      assert(calls.size == 1, n)
      assert(calls.head.columns == Seq("pkey", "ver", "seq", "payload"), n)
    }
  }

  test("concurrent merges tag their own jobs and keep the batch thread's properties") {
    implicit val sql = spark.sqlContext
    val dir = tmp("graft_fanout_tags_")
    def tt(n: String) = TargetTable(n, s"$dir/$n",
      keyCols = Seq("pkey"), versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 4)
    val latch = new CountDownLatch(2)
    val sinks = Map("alpha" -> tt("alpha"), "beta" -> tt("beta")).map { case (n, t) =>
      n -> new Rendezvous(Some(latch), Some(new ParquetTarget(spark, t)))
    }
    val cfg = IngestConfig(name = s"fanout-tags-${System.nanoTime()}",
      maxWriterPartitions = 2, checkpointDir = Some(s"$dir/ckpt"))
    val rows = (1L to 40L).flatMap(k =>
      Seq(("alpha", k, 1L, k, s"a$k"), ("beta", k, 2L, k, s"b$k")))
    val src = routed(rows: _*)
    var queryId = ""
    val jobs = jobProps {
      val q = new MultiTableUpsertStream(cfg, sinks, s"$dir/ckpt", "table")
        .run(src, Trigger.AvailableNow())
      queryId = q.id.toString
      q.awaitTermination()
    }.filter(_.queryId.contains(queryId))
    val tagged = jobs.flatMap(_.tag).groupBy(_.takeWhile(_ != ':'))
    assert(tagged.keySet == Set("alpha", "beta"), s"$jobs")
    assert(tagged("alpha").forall(_ == "alpha:upsert:1"), s"${tagged("alpha")}")
    assert(tagged("beta").forall(_ == "beta:upsert:1"), s"${tagged("beta")}")
    assert(jobs.forall(_.batchId.contains("0")), s"every job carries the batch id: $jobs")
    sinks.foreach { case (n, s) =>
      val calls = s.calls.asScala.toSeq
      assert(calls.map(_.batchId) == Seq("0"), n)
      assert(calls.forall(_.thread.startsWith("graft-fanout-")), s"$n: $calls")
    }
    assert(sinks.values.map(_.calls.peek().thread).toSet.size == 2)
    for ((n, v) <- Seq("alpha" -> 1L, "beta" -> 2L)) {
      val state = readTarget(tt(n)).collect()
        .map(r => r.getAs[Long]("pkey") -> r.getAs[Long]("ver")).toMap
      assert(state == (1L to 40L).map(_ -> v).toMap, n)
    }
  }
}
