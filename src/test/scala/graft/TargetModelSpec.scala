package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}

import graft.LatestWinsModel.{Rec, State}
import graft.model.{IngestConfig, TargetTable}
import graft.sink.ParquetTarget

/** Model-based check of [[ParquetTarget]]: a seeded random sequence of
  * merges, deletes, compactions and rollbacks runs against both the
  * target and a plain-Scala map of its expected state, and every read
  * path is compared with the model after each operation — full read,
  * point lookup, zone-map range read, change feed between consecutive
  * versions, and a zero-copy clone. */
class TargetModelSpec extends SparkSpec {

  import spark.implicits._

  private val cfg = IngestConfig(name = "model-spec", maxWriterPartitions = 2)

  private def rowsOf(df: DataFrame): Set[(Long, Rec)] =
    df.select("pkey", "ver", "seq", "payload", "row_active").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4))))
      .toSet

  /** Keyed diff of two model states, as readChanges reports it. */
  private def diff(from: State, to: State): Set[(Long, String, Rec)] =
    (from.keySet ++ to.keySet).toSet[Long].flatMap { k =>
      (from.get(k), to.get(k)) match {
        case (None, Some(n)) => Some((k, "insert", n))
        case (Some(o), None) => Some((k, "delete", o))
        case (Some(o), Some(n)) if o != n => Some((k, "update", n))
        case _ => None
      }
    }

  test("random operation sequence matches a plain-Scala model on every read path") {
    val dir = Files.createTempDirectory("graft_model_").toString
    val t = TargetTable("t", s"$dir/target", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 4,
      retainVersions = 2)
    val sink = new ParquetTarget(spark, t)
    val rng = new scala.util.Random(20261017L)
    val keySpace = 40L
    var seq = 0L
    def nextSeq(): Long = { seq += 1; seq }
    def randomKeys(n: Int): Seq[Long] = Seq.fill(n)(rng.nextLong(keySpace))
    // (pkey, ver, seq) triples; seq is unique, so ordering ties never
    // need the incoming-wins rule and every dedup has one winner
    def tombstones(n: Int): Seq[(Long, Long, Long)] =
      randomKeys(n).map(k => (k, rng.nextLong(12L), nextSeq()))

    var model: State = Map.empty
    val states = scala.collection.mutable.Map.empty[Long, State]
    var version = 0L
    var clones = 0

    for (step <- 1 to 24) {
      val prevVersion = version
      val op =
        if (model.isEmpty) 0
        else {
          val o = rng.nextInt(6)
          if (o == 5 && version < 2) 0 else o
        }
      op match {
        case 0 => // mergeUpsert: latest (ver, seq) per key wins
          val batch = randomKeys(1 + rng.nextInt(12)).map(k =>
            (k, rng.nextLong(12L), nextSeq(), s"p$seq"))
          model = LatestWinsModel.upsert(model, batch)
          sink.mergeUpsert(batch.map { case (k, v, s, p) => (k, v, s, p, true) }
            .toDF("pkey", "ver", "seq", "payload", "row_active"), cfg)
        case 1 => // mergeSoftDelete: a tombstone at least as new flips the flag
          val ds = tombstones(1 + rng.nextInt(6))
          model = LatestWinsModel.softDelete(model, ds)
          sink.mergeSoftDelete(ds.toDF("pkey", "ver", "seq"), cfg)
        case 2 => // mergeHardDelete: a tombstone at least as new drops the row
          val ds = tombstones(1 + rng.nextInt(6))
          model = LatestWinsModel.hardDelete(model, ds)
          sink.mergeHardDelete(ds.toDF("pkey", "ver", "seq"), cfg)
        case 3 => // deleteVectoredKeys: every current row of the keys goes
          val ks = randomKeys(1 + rng.nextInt(4))
          model --= ks
          sink.deleteVectoredKeys(ks.toDF("pkey"), cfg)
        case 4 => // compact: data unchanged
          sink.compact(cfg)
        case 5 => // rollbackTo the previous version
          model = states(version - 1)
          sink.rollbackTo(version - 1)
      }
      version = sink.versions().lastOption.getOrElse(0L)
      val ctx = s"step $step op $op v$prevVersion->v$version"
      if (version != prevVersion) {
        assert(version == prevVersion + 1, ctx)
        states(version) = model
      } else assert(model == states.getOrElse(version, Map.empty), ctx)

      val expected = model.toSet
      assert(sink.read().fold(Set.empty[(Long, Rec)])(rowsOf) == expected, ctx)

      val probe = randomKeys(5).distinct
      assert(sink.lookup(probe.toDF("pkey")).fold(Set.empty[(Long, Rec)])(rowsOf) ==
        expected.filter(r => probe.contains(r._1)), s"$ctx lookup $probe")

      val lo = rng.nextLong(12L)
      val hi = lo + rng.nextLong(4L)
      assert(sink.readWhereVersionBetween(lo, hi)
        .fold(Set.empty[(Long, Rec)])(rowsOf) ==
        expected.filter { case (_, r) => r._1 >= lo && r._1 <= hi },
        s"$ctx range [$lo, $hi]")

      if (version != prevVersion && prevVersion >= 1) {
        val feed = sink.readChanges(prevVersion, version).get
          .select("pkey", "_change_type", "ver", "seq", "payload", "row_active")
          .collect().map((r: Row) => (r.getLong(0), r.getString(1),
            (r.getLong(2), r.getLong(3), r.getString(4), r.getBoolean(5))))
          .toSet
        assert(feed == diff(states(prevVersion), model), s"$ctx changes")
      }

      if (version >= 1) {
        clones += 1
        val ct = t.copy(name = s"c$clones", path = s"$dir/clone$clones")
        sink.cloneTo(ct.path)
        assert(new ParquetTarget(spark, ct).read()
          .fold(Set.empty[(Long, Rec)])(rowsOf) == expected, s"$ctx clone")
      }
    }
  }
}
