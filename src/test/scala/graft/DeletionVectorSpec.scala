package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.model.{IngestConfig, TargetTable}
import graft.sink.ParquetTarget

/** Merge-on-read deletion vectors: position marks in a sidecar, zero
  * bucket rewrites, every read path filtered, merges never resurrect,
  * compaction materializes, time travel predates. */
class DeletionVectorSpec extends SparkSpec {

  import spark.implicits._

  private val cfg = IngestConfig(name = "dv-spec", maxWriterPartitions = 2)

  private def mk(retain: Int = 4): (ParquetTarget, TargetTable) = {
    val dir = Files.createTempDirectory("graft_dv_").toString
    val t = TargetTable("t", s"$dir/target", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 4,
      retainVersions = retain)
    (new ParquetTarget(spark, t), t)
  }

  private def deltaDirs(t: TargetTable): Set[String] = {
    val root = new Path(t.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).map(_.getPath.getName).filter(_.startsWith("d")).toSet
  }

  private def seed(sink: ParquetTarget, n: Long = 40L): Unit =
    sink.mergeUpsert((0L until n).map(k => (k, 1L, k, k * 10.0)).toDF
      ("pkey", "ver", "seq", "value"), cfg)

  test("vectored delete drops rows without touching any bucket dir") {
    val (sink, t) = mk()
    seed(sink)
    val before = deltaDirs(t)
    sink.deleteVectored(cfg, col("pkey") < 10L)
    assert(deltaDirs(t) == before, "no new delta dir may appear")
    val keys = sink.read().get.select("pkey").as[Long].collect().toSet
    assert(keys == (10L until 40L).toSet)
    // lookups and stats see through the vector too
    val hit = sink.lookup(Seq(3L, 13L).toDF("pkey")).get
      .select("pkey").as[Long].collect().toSet
    assert(hit == Set(13L))
    assert(sink.stats().get.agg(sum("n_rows")).as[Long].head == 30L)
  }

  test("sidecar is SHARDED by bucket: a multi-bucket delete writes one " +
      "shard dir per touched bucket and readers still see the merged view") {
    val (sink, t) = mk()
    seed(sink) // 40 keys over 4 buckets — the predicate hits all of them
    sink.deleteVectored(cfg, col("pkey") % 2L === 0L)
    val root = new Path(t.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvDir = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("x")).maxBy(_.getName)
    val shards = fs.listStatus(dvDir).map(_.getPath.getName)
      .filter(_.startsWith("__graft_dv_bucket=")).toSet
    assert(shards.size > 1,
      s"multi-bucket delete must fan out over >1 sidecar shard, got $shards")
    // the sharded sidecar still reads back as one merged position set
    val keys = sink.read().get.select("pkey").as[Long].collect().toSet
    assert(keys == (1L until 40L by 2L).toSet)
    // bucket-scoped lookups (which prune the DV to their shards) agree
    val hit = sink.lookup(Seq(2L, 3L).toDF("pkey")).get
      .select("pkey").as[Long].collect().toSet
    assert(hit == Set(3L))
  }

  test("repeated vectored deletes fold; merge after delete does not resurrect") {
    val (sink, _) = mk()
    seed(sink)
    sink.deleteVectored(cfg, col("pkey") < 5L)
    sink.deleteVectored(cfg, col("pkey") >= 35L)
    assert(sink.read().get.select("pkey").as[Long].collect().toSet ==
      (5L until 35L).toSet)
    // upsert a batch touching every bucket: rewritten buckets must not
    // bring the vectored-deleted rows back; re-inserting a deleted key
    // as a NEW row is legitimate and must win
    sink.mergeUpsert(Seq((2L, 2L, 99L, 7.0), (20L, 2L, 98L, 8.0),
      (21L, 2L, 97L, 9.0), (22L, 2L, 96L, 1.0)).toDF
      ("pkey", "ver", "seq", "value"), cfg)
    val keys = sink.read().get.select("pkey").as[Long].collect().toSet
    assert(keys == ((5L until 35L).toSet + 2L))
  }

  test("time travel before the delete still serves the rows; CDC emits deletes") {
    val (sink, _) = mk()
    seed(sink) // version 1
    sink.deleteVectored(cfg, col("pkey") % 7L === 0L) // version 2
    assert(sink.readVersion(1L).get.count() == 40L)
    assert(sink.readVersion(2L).get.count() == 34L)
    val changes = sink.readChanges(1L, 2L).get
    val deleted = changes.filter(col("_change_type") === "delete")
      .select("pkey").as[Long].collect().toSet
    assert(deleted == (0L until 40L).filter(_ % 7 == 0).toSet)
    assert(changes.count() == deleted.size, "no spurious non-delete rows")
  }

  test("CDC across a rollback past a vectored delete emits the restored rows") {
    val (sink, _) = mk()
    seed(sink) // version 1
    sink.deleteVectoredKeys(Seq(3L, 17L).toDF("pkey"), cfg) // version 2
    sink.rollbackTo(1L) // version 3: no bucket dir changes, only the vector
    assert(sink.read().get.count() == 40L)
    val changes = sink.readChanges(2L, 3L).get
      .select("pkey", "_change_type").as[(Long, String)].collect().toSet
    assert(changes == Set((3L, "insert"), (17L, "insert")))
  }

  test("compaction materializes the vector; sidecar survives retention until superseded") {
    val (sink, t) = mk(retain = 2)
    seed(sink) // v1
    sink.deleteVectored(cfg, col("pkey") < 20L) // v2 writes x2
    // several more commits push v2's manifest out of retention; the x2
    // sidecar must survive (it is still the applicable vector)
    sink.mergeUpsert(Seq((50L, 3L, 1L, 1.0)).toDF
      ("pkey", "ver", "seq", "value"), cfg) // v3
    sink.mergeUpsert(Seq((51L, 4L, 1L, 1.0)).toDF
      ("pkey", "ver", "seq", "value"), cfg) // v4
    assert(sink.read().get.select("pkey").as[Long].collect().toSet ==
      ((20L until 40L).toSet ++ Set(50L, 51L)))
    sink.compact(cfg) // v5: deletions become physical
    assert(sink.read().get.count() == 22L)
    val root = new Path(t.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one more vectored delete writes a fresh sidecar; the next commit's
    // GC may then retire the pre-compaction one
    sink.deleteVectored(cfg, col("pkey") === 50L) // v6 writes x6
    sink.mergeUpsert(Seq((52L, 5L, 1L, 1.0)).toDF
      ("pkey", "ver", "seq", "value"), cfg) // v7 (gc: keep x6, drop x2)
    val xs = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("x")).toSet
    assert(xs == Set("x0000000006"), xs.mkString(","))
    assert(sink.read().get.select("pkey").as[Long].collect().toSet ==
      ((20L until 40L).toSet ++ Set(51L, 52L)))
  }

  test("key-addressed vectored delete: bucket-pruned, idempotent, no-match no-op") {
    val (sink, t) = mk()
    seed(sink)
    val before = deltaDirs(t)
    sink.deleteVectoredKeys(Seq(1L, 5L, 9L).toDF("pkey"), cfg)
    assert(deltaDirs(t) == before)
    assert(sink.read().get.select("pkey").as[Long].collect().toSet ==
      (0L until 40L).toSet -- Set(1L, 5L, 9L))
    // replaying the same key batch finds no live rows -> no new commit
    val vBefore = sink.versions().last
    sink.deleteVectoredKeys(Seq(1L, 5L).toDF("pkey"), cfg)
    assert(sink.versions().last == vBefore)
    // unknown keys are a clean no-op too
    sink.deleteVectoredKeys(Seq(999L).toDF("pkey"), cfg)
    assert(sink.versions().last == vBefore)
  }

  test("a plainly copied table reads, looks up and diffs its vectored deletes " +
      "like the original") {
    val (sink, t) = mk()
    seed(sink) // v1
    sink.deleteVectored(cfg, col("pkey") % 3L === 0L) // v2
    sink.mergeUpsert(Seq((1L, 2L, 9L, 1.5), (50L, 2L, 9L, 5.0)).toDF
      ("pkey", "ver", "seq", "value"), cfg) // v3
    val dest = Files.createTempDirectory("graft_dvcopy_").resolve("t")
    val src = java.nio.file.Paths.get(t.path)
    Files.walk(src).forEach { p =>
      Files.copy(p, dest.resolve(src.relativize(p).toString))
      ()
    }
    val copy = new ParquetTarget(spark, t.copy(path = dest.toString))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("pkey", "ver", "seq", "value").as[(Long, Long, Long, Double)].collect().toSet
    assert(rows(copy.read().get) == rows(sink.read().get))
    assert(rows(copy.read().get).map(_._1) ==
      (0L until 40L).filterNot(_ % 3 == 0).toSet + 50L)
    val probe = Seq(0L, 1L, 3L, 4L, 50L, 99L).toDF("pkey")
    assert(rows(copy.lookup(probe).get) == rows(sink.lookup(probe).get))
    def feed(s: ParquetTarget, from: Long, to: Long) =
      s.readChanges(from, to).get.select("pkey", "_change_type").as[(Long, String)].collect().toSet
    assert(feed(copy, 1L, 2L) == feed(sink, 1L, 2L))
    assert(feed(copy, 1L, 3L) == feed(sink, 1L, 3L))
    assert(feed(copy, 1L, 2L).map(_._1) == (0L until 40L).filter(_ % 3 == 0).toSet)
  }

  test("the root holds no zone file, and a rollback past a vector writes no vector") {
    val (sink, t) = mk()
    seed(sink) // v1
    val root = new Path(t.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def named(prefix: String) =
      fs.listStatus(root).map(_.getPath.getName).filter(_.startsWith(prefix)).toSet
    assert(named("z").isEmpty)
    assert(sink.zoneMaps().nonEmpty)
    sink.deleteVectoredKeys(Seq(3L, 17L).toDF("pkey"), cfg) // v2 writes x2
    assert(named("x") == Set("x0000000002"))
    sink.rollbackTo(1L) // v3
    assert(named("x") == Set("x0000000002"), "x2 stays while v2 is retained")
    assert(sink.read().get.count() == 40L)
    assert(named("z").isEmpty)
  }

  test("clone carries the vector: branch reads exclude deleted rows") {
    val (sink, t) = mk()
    seed(sink)
    sink.deleteVectored(cfg, col("pkey") >= 30L)
    val dest = Files.createTempDirectory("graft_dvclone_").toString + "/b"
    sink.cloneTo(dest)
    val branch = new ParquetTarget(spark, TargetTable("b", dest,
      keyCols = Seq("pkey"), versionCol = "ver", tieBreakCols = Seq("seq"),
      buckets = 4))
    assert(branch.read().get.select("pkey").as[Long].collect().toSet ==
      (0L until 30L).toSet)
  }
}
