package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.model.{IngestConfig, TargetTable}
import graft.ops.Dedup
import graft.sink.{Merge, ParquetTarget}
import graft.sink.Merge.Change.{HardDelete, SoftDelete, Upsert}

/** Keyed MERGE semantics (SURVEY.md §2 O5/O6), on both entries of the one
  * fold — the frame entry and a bucketed `ParquetTarget`: incoming wins
  * exact ties (ON CONFLICT DO UPDATE fires on equal versions), stale
  * updates lose, stale tombstones are no-ops, and replaying a batch is
  * idempotent. */
class MergeSpec extends SparkSpec {

  import spark.implicits._

  private val K = Seq("pkey")
  private val V = "ver"
  private val T = Seq("seq")
  private val cfg = IngestConfig(name = "merge-spec", maxWriterPartitions = 2)

  private def df(rows: Seq[(Long, Long, Long, String)]): DataFrame =
    rows.toDF("pkey", "ver", "seq", "payload")

  /** A new 4-bucket target holding `rows` (nothing for an empty frame). */
  private def stored(rows: DataFrame): ParquetTarget = {
    val dir = Files.createTempDirectory("graft_merge_").toString
    val pt = new ParquetTarget(spark, TargetTable("t", s"$dir/t",
      keyCols = K, versionCol = V, tieBreakCols = T, buckets = 4))
    if (!rows.isEmpty) pt.mergeUpsert(rows, cfg)
    pt
  }

  /** `change` of `batch` on `target` through both entries: the frame
    * entry and a stored target, read back in the frame entry's column
    * order. */
  private def viaBoth(target: DataFrame, batch: DataFrame,
      change: Merge.Change): Seq[DataFrame] = {
    val frame = Merge.mergeFrame(target, batch, change, K, V, T)
    val pt = stored(target)
    change match {
      case Upsert => pt.mergeUpsert(batch, cfg)
      case SoftDelete => pt.mergeSoftDelete(batch, cfg)
      case HardDelete => pt.mergeHardDelete(batch, cfg)
    }
    Seq(frame, pt.read().get.select(frame.columns.head, frame.columns.tail.toSeq: _*))
  }

  test("upsert: newer incoming replaces, stale incoming ignored, new keys inserted") {
    val target = df(Seq((1L, 10L, 1L, "t1"), (2L, 20L, 2L, "t2")))
    val updates = df(Seq(
      (1L, 11L, 3L, "u1-new"),   // newer → replaces
      (2L, 19L, 4L, "u2-stale"), // older → ignored
      (3L, 5L, 5L, "u3-insert"))) // new key → inserted
    for (m <- viaBoth(target, updates, Upsert)) {
      val out = m.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(out == Map(1L -> "u1-new", 2L -> "t2", 3L -> "u3-insert"))
    }
  }

  test("upsert: incoming wins an exact ordering tie (ON CONFLICT DO UPDATE fires)") {
    val target = df(Seq((1L, 10L, 1L, "stored")))
    val updates = df(Seq((1L, 10L, 1L, "incoming")))
    for (m <- viaBoth(target, updates, Upsert)) {
      assert(m.collect().map(_.getString(3)).toSeq == Seq("incoming"))
    }
  }

  test("upsert: intra-batch duplicates are deduped before merging") {
    val target = df(Nil)
    val updates = df(Seq((1L, 5L, 1L, "old"), (1L, 9L, 2L, "new")))
    for (out <- viaBoth(target, updates, Upsert)) {
      assert(out.collect().map(_.getString(3)).toSeq == Seq("new"))
    }
  }

  test("frame entry == latestWins of target union updates on random workloads") {
    val rnd = new Random(42)
    def rows(n: Int) = Seq.fill(n)(
      (rnd.nextInt(30).toLong, rnd.nextInt(40).toLong, rnd.nextLong(), "p"))
    val target = Dedup.latestWins(df(rows(200)), K, V, T)
    val updates = df(rows(150))
    assertSameRows(
      Merge.mergeFrame(target, updates, Upsert, K, V, T),
      Dedup.latestWins(target.unionByName(updates), K, V, T))
  }

  test("upsert replay is idempotent (exactly-once under micro-batch retry)") {
    val target = Dedup.latestWins(df(Seq(
      (1L, 10L, 1L, "t1"), (2L, 20L, 2L, "t2"))), K, V, T)
    val updates = df(Seq((1L, 15L, 3L, "u"), (3L, 1L, 4L, "i")))
    val once = Merge.mergeFrame(target, updates, Upsert, K, V, T)
    val twice = Merge.mergeFrame(once, updates, Upsert, K, V, T)
    assertSameRows(once, twice)
    val pt = stored(target)
    pt.mergeUpsert(updates, cfg)
    val onceStored = pt.read().get.collect().toSet
    pt.mergeUpsert(updates, cfg)
    assert(pt.read().get.collect().toSet == onceStored)
  }

  test("soft delete: flips flag only for tombstones at least as new") {
    val target = df(Seq((1L, 10L, 1L, "a"), (2L, 20L, 2L, "b"), (3L, 30L, 3L, "c")))
    val dels = df(Seq(
      (1L, 10L, 1L, "d"),  // equal ordering → deleted
      (2L, 19L, 1L, "d"))) // stale → survives
    for (m <- viaBoth(target, dels, SoftDelete)) {
      val out = m.collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
      assert(out == Map(1L -> false, 2L -> true, 3L -> true))
    }
  }

  test("soft delete preserves an existing flag column (no double-add)") {
    val target = df(Seq((1L, 10L, 1L, "a")))
      .withColumn("row_active", org.apache.spark.sql.functions.lit(false))
    val dels = df(Seq((2L, 99L, 9L, "d")))
    for (out <- viaBoth(target, dels, SoftDelete)) {
      assert(out.columns.count(_ == "row_active") == 1)
      // previously-dead row stays dead even though no tombstone matches it
      assert(out.collect().map(_.getBoolean(4)).toSeq == Seq(false))
    }
  }

  test("hard delete drops matched-and-newer, keeps stale-tombstoned rows") {
    val target = df(Seq((1L, 10L, 1L, "a"), (2L, 20L, 2L, "b")))
    val dels = df(Seq((1L, 11L, 1L, "d"), (2L, 19L, 1L, "d")))
    for (out <- viaBoth(target, dels, HardDelete)) {
      assert(out.collect().map(_.getLong(0)).toSeq == Seq(2L))
    }
  }

  test("quarantineSplit: multi-rule reasons in order, NULL = violation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val batch = Seq(
      (1L, Some(5.0), "ok"),
      (2L, Some(-1.0), "ok"),    // fails nonneg
      (3L, None, "bad"),         // fails BOTH (null value = violation)
      (4L, Some(2.0), "bad"))    // fails type
      .toDF("id", "v", "kind")
    val (valid, bad) = Merge.quarantineSplit(batch, Seq(
      "nonneg" -> (col("v") >= 0.0),
      "kind_ok" -> (col("kind") === "ok")))
    assert(valid.collect().map(_.getLong(0)).toSeq == Seq(1L))
    val reasons = bad.collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(reasons == Map(2L -> "nonneg", 3L -> "nonneg,kind_ok",
      4L -> "kind_ok"))
    // the quarantine side keeps the full row for replay
    assert(bad.columns.toSeq ==
      Seq("id", "v", "kind", "quarantine_reason"))
  }

  test("contractUpsert: dirty batch rejected whole, clean batch lands, " +
      "tolerance admits bounded violations, NULL counts as violation") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_cg_").toString
    val t = graft.model.TargetTable("t", s"$dir/t", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 2)
    val cfg = graft.model.IngestConfig(name = "cg", maxWriterPartitions = 2)
    val pt = new graft.sink.ParquetTarget(spark, t)
    val rules = Seq("pos" -> (col("v") > 0.0))
    Merge.contractUpsert(pt, Seq((1L, 1L, 1L, 5.0), (2L, 1L, 1L, 3.0))
      .toDF("pkey", "ver", "seq", "v"), cfg, rules)
    assert(pt.read().get.count() == 2L)
    // One bad row → whole batch (including its clean row) rejected.
    intercept[IllegalStateException] {
      Merge.contractUpsert(pt, Seq((3L, 2L, 2L, 7.0), (4L, 2L, 2L, -1.0))
        .toDF("pkey", "ver", "seq", "v"), cfg, rules)
    }
    assert(pt.read().get.count() == 2L) // untouched
    // NULL rule result is a violation, not a pass.
    intercept[IllegalStateException] {
      Merge.contractUpsert(pt,
        Seq((5L, 3L, 3L, null.asInstanceOf[java.lang.Double]))
          .toDF("pkey", "ver", "seq", "v"), cfg, rules)
    }
    // Tolerance: the same batch passes with maxViolations = 1.
    Merge.contractUpsert(pt, Seq((3L, 4L, 4L, 7.0), (4L, 4L, 4L, -1.0))
      .toDF("pkey", "ver", "seq", "v"), cfg, rules, maxViolations = 1L)
    assert(pt.read().get.count() == 4L)
  }
}
