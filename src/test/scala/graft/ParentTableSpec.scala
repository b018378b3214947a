package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, GraftSql}

import graft.model.{IngestConfig, TargetTable}
import graft.sink.ParquetTarget

/** A target written by the previous storage writer (snappy, several files
  * per bucket), checked in under `src/test/resources/graft/parent-table`.
  * It was made with four operations on a 4-bucket table, keys `pkey`,
  * version `ver`, tie-break `seq`, `maxWriterPartitions = 4`,
  * `retainVersions = 4`:
  *  1. `mergeUpsert` of keys 0..119 as (1, k, "a<k>");
  *  2. `mergeSoftDelete` of (k, 1, k) for k % 10 == 0 (ties: applied) and
  *     (k, 0, k) for k % 10 == 5 (stale: ignored) — the flag migration;
  *  3. `mergeUpsert` of keys 100..159 as (2, 0, "b<k>");
  *  4. `deleteVectoredKeys` of every k < 160 with k % 7 == 3. */
object ParentTable {
  /** Stored row of one key: (ver, seq, payload, row_active). */
  type Rec = (Long, Long, String, Boolean)

  val v1: Map[Long, Rec] = (0L until 120L).map(k => k -> ((1L, k, s"a$k", true))).toMap
  val v2: Map[Long, Rec] = v1.map { case (k, r) => k -> r.copy(_4 = k % 10 != 0) }
  val v3: Map[Long, Rec] = v2 ++ (100L until 160L).map(k => k -> ((2L, 0L, s"b$k", true)))
  val v4: Map[Long, Rec] = v3.filter { case (k, _) => k % 7 != 3 }

  private def resource: Path =
    Paths.get(getClass.getResource("/graft/parent-table/_LATEST").toURI).getParent

  /** Copy the table to `dest` with a plain recursive copy and return its
    * [[TargetTable]]. */
  def copyTo(dest: String): TargetTable = {
    val src = resource
    val to = Paths.get(dest)
    Files.walk(src).iterator().asScala.foreach { p =>
      val q = to.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
    TargetTable("legacy", dest, keyCols = Seq("pkey"), versionCol = "ver",
      tieBreakCols = Seq("seq"), buckets = 4, retainVersions = 4)
  }

  def rows(df: DataFrame): Map[Long, Rec] =
    df.select("pkey", "ver", "seq", "payload", "row_active").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4))))
      .toMap
}

class ParentTableSpec extends SparkSpec {

  import spark.implicits._
  import ParentTable._

  private val cfg = IngestConfig(name = "parent-table-spec", maxWriterPartitions = 4)

  private def dataFiles(root: String): Seq[String] =
    Files.walk(Paths.get(root)).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSeq

  test("a parent-written table reads, looks up, merges, compacts, rolls back and clones") {
    val dir = Files.createTempDirectory("graft_parent_").toString
    val t = copyTo(s"$dir/table")
    val sink = new ParquetTarget(spark, t)
    assert(dataFiles(t.path).forall(_.contains(".snappy.")))

    assert(sink.versions() == Seq(1L, 2L, 3L, 4L))
    assert(rows(sink.read().get) == v4)
    assert(sink.read().get.count() == 137L)
    // zone bounds of a parent manifest come from its z file (z0000000004)
    assert(sink.zoneMaps() == (0 until 4).map(_ -> ((1L, 2L))).toMap)
    assert(sink.pruneAudit(3, 3).contains((4, 0, 4)))
    assert(sink.pruneAudit(2, 2).contains((4, 4, 0)))
    assert(rows(sink.readVersion(3).get) == v3)
    assert(rows(sink.readVersion(2).get) == v2)
    assert(sink.readVersion(1).get.select("pkey", "ver", "seq", "payload").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), true))).toMap == v1)
    val probe = Seq(0L, 3L, 5L, 10L, 101L, 150L, 158L, 500L)
    assert(rows(sink.lookup(probe.toDF("pkey")).get) == v4.filter(r => probe.contains(r._1)))
    assert(sink.readChanges(3, 4).get.select("pkey", "_change_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet ==
      (v3.keySet -- v4.keySet).map(_ -> "delete"))

    // upsert over multi-file snappy buckets: new keys, keys a vectored
    // delete removed (150, 157), newer versions, and a stale version
    val upsert = ((150L until 190L).map(k => (k, 3L, 0L, s"c$k")) :+ ((5L, 0L, 9L, "stale")))
      .toDF("pkey", "ver", "seq", "payload")
    sink.mergeUpsert(upsert, cfg)
    val v5 = v4 ++ (150L until 190L).map(k => k -> ((3L, 0L, s"c$k", true)))
    assert(rows(sink.read().get) == v5)
    // roll back to the parent's last version: its deletion vector applies again
    sink.rollbackTo(4)
    assert(rows(sink.read().get) == v4)
    sink.mergeUpsert(upsert, cfg)
    assert(rows(sink.read().get) == v5)
    sink.mergeSoftDelete((0L until 10L).map(k => (k, 1L, 100L)).toDF("pkey", "ver", "seq"), cfg)
    val v6 = v5.map { case (k, r) => k -> (if (k < 10) r.copy(_4 = false) else r) }
    assert(rows(sink.read().get) == v6)
    sink.mergeHardDelete(Seq((11L, 1L, 11L), (12L, 0L, 0L)).toDF("pkey", "ver", "seq"), cfg)
    val v7 = v6 - 11L
    assert(rows(sink.read().get) == v7)

    sink.compact(cfg)
    assert(rows(sink.read().get) == v7)
    assert(sink.versions().last == 10L)
    assert(sink.zoneMaps().keySet == Set(0, 1, 2, 3))
    assert(sink.zoneMaps().values.forall { case (lo, hi) => lo >= 1 && hi <= 3 })
    assert(rows(sink.readWhereVersionBetween(3, 3).get) == v7.filter(_._2._1 == 3L))

    sink.cloneTo(s"$dir/clone")
    val clone = new ParquetTarget(spark, t.copy(name = "clone", path = s"$dir/clone"))
    assert(rows(clone.read().get) == v7)
    clone.mergeUpsert(Seq((1000L, 1L, 0L, "z")).toDF("pkey", "ver", "seq", "payload"), cfg)
    assert(rows(clone.read().get) == v7 + (1000L -> ((1L, 0L, "z", true))))
    assert(rows(sink.read().get) == v7)
  }

  test("the footer schema equals Spark's inferred schema for parent and new files") {
    val dir = Files.createTempDirectory("graft_parent_schema_").toString
    val t = copyTo(s"$dir/table")
    val sink = new ParquetTarget(spark, t)
    sink.mergeUpsert(Seq((1L, 9L, 0L, "n")).toDF("pkey", "ver", "seq", "payload"), cfg)
    val conf = spark.sparkContext.hadoopConfiguration
    for (d <- Seq("d0000000002", "d0000000003", "d0000000005")) {
      val bucketDir = Files.list(Paths.get(t.path, d)).iterator().asScala
        .find(_.getFileName.toString.startsWith("__graft_bucket=")).get
      val file = new HPath(Files.list(bucketDir).iterator().asScala
        .find(p => p.getFileName.toString.endsWith(".parquet") &&
          !p.getFileName.toString.startsWith(".")).get.toUri)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
      val footer = try reader.getFooter finally reader.close()
      assert(GraftSql.parquetSchema(spark, file, footer) ==
        spark.read.parquet(bucketDir.toString).schema, d)
    }
    assert(dataFiles(s"${t.path}/d0000000005").forall(_.contains(".zstd.")))
  }
}
