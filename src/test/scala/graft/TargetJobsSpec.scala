package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.model.{IngestConfig, TargetTable}
import graft.sink.ParquetTarget

/** Job budget of [[ParquetTarget]]: a merge is at most four Spark jobs
  * (bucket ids, the shuffle of the touched slice, the write, and one
  * spare), a merge of an empty batch at most one and publishes nothing,
  * and a lookup of a local key frame is the caller's one collect. Every
  * job an operation starts carries its `graft.op` tag. */
class TargetJobsSpec extends SparkSpec {

  import spark.implicits._

  private val cfg = IngestConfig(name = "jobs-spec", maxWriterPartitions = 4)

  /** The `graft.op` tag of every job started while `f` runs (None for an
    * untagged job). */
  private def jobsOf(f: => Unit): Seq[Option[String]] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(ParquetTarget.OpKey))))
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

  private def target(): ParquetTarget = {
    val dir = Files.createTempDirectory("graft_jobs_").toString
    val t = TargetTable("t", s"$dir/target", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 16)
    val sink = new ParquetTarget(spark, t)
    sink.mergeUpsert(spark.range(2000).selectExpr("id AS pkey", "1L AS ver",
      "0L AS seq", "concat('p', id) AS payload"), cfg)
    sink
  }

  /** Asserts the budget and that every job is tagged `t:<op>:<next>`. */
  private def checkMerge(sink: ParquetTarget, op: String)(f: => Unit): Unit = {
    val next = sink.versions().last + 1
    val jobs = jobsOf(f)
    assert(jobs.size <= 4, s"$op ran ${jobs.size} jobs")
    assert(jobs.forall(_.contains(s"t:$op:$next")), s"$op tags: $jobs")
    assert(sink.versions().last == next, s"$op published no version")
  }

  test("each merge kind runs at most 4 jobs, all tagged with the version it publishes") {
    val sink = target()
    checkMerge(sink, "upsert") {
      sink.mergeUpsert((1990L until 2040L).map(k => (k, 2L, 0L, s"q$k"))
        .toDF("pkey", "ver", "seq", "payload"), cfg)
    }
    // the first soft delete also adds the flag column to every bucket
    checkMerge(sink, "soft_delete") {
      sink.mergeSoftDelete((0L until 30L).map(k => (k, 1L, 0L)).toDF("pkey", "ver", "seq"), cfg)
    }
    checkMerge(sink, "soft_delete") {
      sink.mergeSoftDelete((30L until 60L).map(k => (k, 1L, 0L)).toDF("pkey", "ver", "seq"), cfg)
    }
    checkMerge(sink, "hard_delete") {
      sink.mergeHardDelete((60L until 90L).map(k => (k, 1L, 0L)).toDF("pkey", "ver", "seq"), cfg)
    }
    val rows = sink.read().get
    assert(rows.count() == 2040 - 30)
    assert(rows.where("NOT row_active").count() == 60)
  }

  test("a merge of an empty batch runs at most one job and publishes nothing") {
    val sink = target()
    val before = sink.versions()
    val empty = Seq.empty[(Long, Long, Long, String)].toDF("pkey", "ver", "seq", "payload")
    for ((op, merge) <- Seq[(String, () => Unit)](
        "upsert" -> (() => sink.mergeUpsert(empty, cfg)),
        "soft_delete" -> (() => sink.mergeSoftDelete(empty.drop("payload"), cfg)),
        "hard_delete" -> (() => sink.mergeHardDelete(empty.drop("payload"), cfg)))) {
      val jobs = jobsOf(merge())
      assert(jobs.size <= 1, s"$op of an empty batch ran ${jobs.size} jobs")
      assert(jobs.forall(_.isDefined), s"$op tags: $jobs")
      assert(sink.versions() == before, op)
    }
  }

  test("a lookup of a local 8-key frame is exactly one job: the caller's collect") {
    val sink = target()
    val keys = Seq(3L, 17L, 256L, 999L, 1024L, 1500L, 1999L, 5000L)
    var found = Seq.empty[Long]
    val jobs = jobsOf {
      val df = sink.lookup(keys.toDF("pkey")).get
      found = df.select("pkey").collect().map(_.getLong(0)).toSeq
    }
    assert(jobs.size == 1, s"lookup ran ${jobs.size} jobs")
    assert(found.sorted == keys.filter(_ < 2000))
    // the lookup call itself starts nothing
    assert(jobsOf(sink.lookup(keys.toDF("pkey"))).isEmpty)
    // a key frame that is not local costs one collect inside the call, tagged
    val v = sink.versions().last
    val collect = jobsOf(sink.lookup(spark.range(3, 4).toDF("pkey")))
    assert(collect.size == 1 && collect.forall(_.contains(s"t:lookup:$v")), s"$collect")
  }

  test("an operation restores the caller's graft.op property") {
    val sink = target()
    val sc = spark.sparkContext
    sc.setLocalProperty(ParquetTarget.OpKey, "outer")
    try {
      sink.mergeUpsert(Seq((1L, 5L, 0L, "x")).toDF("pkey", "ver", "seq", "payload"), cfg)
      assert(sc.getLocalProperty(ParquetTarget.OpKey) == "outer")
    } finally sc.setLocalProperty(ParquetTarget.OpKey, null)
  }
}
