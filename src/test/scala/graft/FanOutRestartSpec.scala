package graft

import java.nio.file.{Files, Path}
import java.sql.DriverManager
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.engine.{MultiTableUpsertStream, QuickStreamBuilder}
import graft.model.{IngestConfig, TargetTable}
import graft.sink.{JdbcDialect, JdbcTarget, MergeSink, ParquetTarget}

/** One routed record of a multi-table stream. */
case class Routed(table: String, pkey: Long, ver: Long, seq: Long, payload: String)

/** Failure, restart and aliasing behaviour of the concurrent multi-table
  * fan-out ([[graft.engine.Streams]]`.fanOut`), in the style of
  * [[RestartResumeSpec]]: a table that fails does not stop the other
  * tables of its batch, the batch fails only after all of them have
  * finished, nothing is left running or locked, and a restart on the same
  * checkpoint converges every table to the plain-Scala latest-wins model.
  * Routes that alias one table are applied one after the other. */
class FanOutRestartSpec extends SparkSpec {

  import spark.implicits._

  private val schema = Encoders.product[Routed].schema

  private def writeOneFile(rows: Seq[Routed], srcDir: Path, name: String): Unit = {
    val stage = Files.createTempDirectory("graft_fanout_stage_")
    rows.toDF().coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = Files.list(stage).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(srcDir)
    Files.move(part, srcDir.resolve(name))
    ()
  }

  private def fileStream(srcDir: Path): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString)

  /** Plain-Scala latest-wins: per key, the greatest (ver, seq) row. */
  private def model(rows: Seq[Routed]): Map[Long, (Long, String)] =
    rows.groupBy(_.pkey).map { case (k, rs) =>
      val w = rs.maxBy(r => (r.ver, r.seq))
      k -> ((w.ver, w.payload))
    }

  private def stateOf(t: TargetTable): Map[Long, (Long, String)] =
    new ParquetTarget(spark, t).read().get.collect()
      .map(r => r.getAs[Long]("pkey") ->
        ((r.getAs[Long]("ver"), r.getAs[String]("payload")))).toMap

  private def table(dir: Path, name: String) = TargetTable(name,
    dir.resolve(name).toString, keyCols = Seq("pkey"), versionCol = "ver",
    tieBreakCols = Seq("seq"), buckets = 4)

  /** Sink decorator counting calls; with `failFirst` its first call
    * throws before merging. */
  private final class Calls(inner: MergeSink, failFirst: Boolean) extends MergeSink {
    val calls = new AtomicInteger(0)
    override def mergeUpsert(b: DataFrame, c: IngestConfig): Unit = {
      if (calls.incrementAndGet() == 1 && failFirst)
        throw new RuntimeException("injected sink failure")
      inner.mergeUpsert(b, c)
    }
    override def mergeSoftDelete(b: DataFrame, c: IngestConfig): Unit =
      inner.mergeSoftDelete(b, c)
    override def mergeHardDelete(b: DataFrame, c: IngestConfig): Unit =
      inner.mergeHardDelete(b, c)
  }

  private def rows(route: String, keys: Range, ver: Long, seq0: Long): Seq[Routed] =
    keys.map(k => Routed(route, k.toLong, ver, seq0 + k, s"$route-$k-$ver"))

  test("a failing table fails its batch after the other table commits; " +
      "restart on the same checkpoint converges every table to the model") {
    val dir = Files.createTempDirectory("graft_fanout_fail_")
    val src = dir.resolve("src")
    val ckpt = dir.resolve("ckpt").toString
    val (fa, fb) = (table(dir, "fail_a"), table(dir, "fail_b"))
    val b0 = rows("fail_a", 1 to 20, 1L, 0L) ++ rows("fail_b", 1 to 20, 1L, 100L)
    val b1 = rows("fail_a", 10 to 30, 2L, 200L) ++ rows("fail_b", 5 to 25, 2L, 300L) ++
      rows("fail_b", 1 to 3, 0L, 400L) // stale: older than batch 0's rows
    writeOneFile(b0, src, "b0.parquet")
    writeOneFile(b1, src, "b1.parquet")

    val failing = new Calls(new ParquetTarget(spark, fa), failFirst = true)
    val other = new Calls(new ParquetTarget(spark, fb), failFirst = false)
    val sinks = Map[String, MergeSink]("fail_a" -> failing, "fail_b" -> other)
    def run(tag: String) = new MultiTableUpsertStream(
      IngestConfig(name = s"fanout-$tag-${System.nanoTime()}",
        maxWriterPartitions = 2, checkpointDir = Some(ckpt)),
      sinks, ckpt, "table").run(fileStream(src), Trigger.AvailableNow())

    val failure = intercept[StreamingQueryException](run("a").awaitTermination())
    assert(Iterator.iterate[Throwable](failure)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected sink failure")), failure)
    assert(failing.calls.get() == 1 && other.calls.get() == 1)
    // the other slice of the failed batch committed
    assert(stateOf(fb) == model(b0.filter(_.table == "fail_b")))
    assert(new ParquetTarget(spark, fa).read().isEmpty)
    // nothing left running or holding a lease
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-fanout-fail_"))
    assert(alive.isEmpty, alive.map(_.getName))
    Seq(fa, fb).foreach(t => assert(!Files.exists(Path.of(t.path, "_LOCK")), t.name))

    // restart: batch 0 is replayed to both tables, then batch 1 runs
    run("b").awaitTermination()
    assert(failing.calls.get() == 3 && other.calls.get() == 3)
    val all = b0 ++ b1
    for (t <- Seq(fa, fb))
      assert(stateOf(t) == model(all.filter(_.table == t.name)), t.name)
  }

  test("routes aliasing one table path share one writer and converge to the model") {
    val dir = Files.createTempDirectory("graft_fanout_alias_")
    val src = dir.resolve("src")
    val ckpt = dir.resolve("ckpt").toString
    val shared = table(dir, "shared")
    val own = table(dir, "own")
    // two routes name the same path; their keys overlap, with no exact ties
    val b0 = rows("x", 1 to 30, 1L, 0L) ++ rows("y", 20 to 50, 2L, 100L) ++
      rows("z", 1 to 10, 1L, 200L)
    val b1 = rows("y", 1 to 10, 3L, 300L) ++ rows("x", 40 to 45, 1L, 400L) ++
      rows("x", 25 to 35, 4L, 500L)
    writeOneFile(b0, src, "b0.parquet")
    writeOneFile(b1, src, "b1.parquet")
    val catalog = Map("x" -> shared, "y" -> shared.copy(name = "shared_y"), "z" -> own)
    new MultiTableUpsertStream(spark,
      IngestConfig(name = s"fanout-alias-${System.nanoTime()}",
        maxWriterPartitions = 2, checkpointDir = Some(ckpt)), catalog)
      .run(fileStream(src), Trigger.AvailableNow())
      .awaitTermination() // a lease conflict would fail the query
    val all = b0 ++ b1
    assert(stateOf(shared) == model(all.filter(r => r.table == "x" || r.table == "y")))
    assert(stateOf(own) == model(all.filter(_.table == "z")))
  }

  test("builder JDBC routes aliasing one database table converge to the model") {
    implicit val sql = spark.sqlContext
    val url = s"jdbc:derby:memory:fanout${System.nanoTime()};create=true"
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().executeUpdate(
      "CREATE TABLE ta (pkey BIGINT NOT NULL PRIMARY KEY, ver BIGINT, " +
        "seq BIGINT, payload VARCHAR(64))")
    finally conn.close()
    def jt = JdbcTarget(url, "ta", keyCols = Seq("pkey"), versionCol = "ver",
      tieBreakCols = Seq("seq"))
    val events = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Routed]
    val b0 = rows("p", 1 to 40, 1L, 0L) ++ rows("q", 20 to 60, 2L, 100L) ++
      rows("p", 30 to 50, 3L, 200L)
    val q = new QuickStreamBuilder(spark)
      .withName(s"fanout-jdbc-alias-${System.nanoTime()}")
      .withMaxConCount(2).withMaxRecordsPerCycleBatch(1000)
      .withCheckpointDir(Files.createTempDirectory("graft_fanout_jdbc_").toString)
      .withJdbcCatalog(Map("p" -> jt, "q" -> jt))
      .withDbDialect(JdbcDialect.Derby)
      .buildMultiTableJdbcUpsert()
      .run(events.toDF())
    events.addData(b0)
    q.processAllAvailable()
    q.stop()
    val state = spark.read.jdbc(url, "ta", new java.util.Properties()).collect()
      .map(r => r.getAs[Long]("PKEY") ->
        ((r.getAs[Long]("VER"), r.getAs[String]("PAYLOAD")))).toMap
    assert(state == model(b0))
  }
}
