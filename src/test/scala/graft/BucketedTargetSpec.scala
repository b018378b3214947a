package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.input_file_name

import graft.model.{IngestConfig, TargetTable}
import graft.sink.ParquetTarget

/** The bucketed target must only rewrite buckets containing batch keys —
  * untouched buckets carry over by reference (the O(batch), not
  * O(target), merge-I/O property the sink exists for). */
class BucketedTargetSpec extends SparkSpec {

  import spark.implicits._

  private val cfg = IngestConfig(name = "bucket-spec", maxWriterPartitions = 2)

  private def mk(buckets: Int): (ParquetTarget, TargetTable) = {
    val dir = Files.createTempDirectory("graft_bkt_").toString
    val t = TargetTable("t", s"$dir/target", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = buckets)
    (new ParquetTarget(spark, t), t)
  }

  /** bucket dir -> owning delta version, from the published manifest. */
  private def bucketVersions(t: TargetTable): Map[Int, String] = {
    val root = new Path(t.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith("m") && !n.endsWith(".tmp")).max
    val in = fs.open(new Path(root, latest))
    val text = try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
    text.split("\n").filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(b, d) = l.split("\t", 2); b.toInt -> d.split("/")(0)
    }.toMap
  }

  test("merge rewrites only affected buckets; others keep their old delta") {
    val (sink, t) = mk(buckets = 8)
    // seed: keys 0..63 spread over all 8 buckets
    sink.mergeUpsert((0L until 64L).map(k => (k, 1L, k, s"v1-$k")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    val v1 = bucketVersions(t)
    assert(v1.values.toSet == Set("d0000000001"))
    assert(v1.keySet.size == 8)

    // update ONE key → exactly one bucket moves to d2
    sink.mergeUpsert(Seq((7L, 2L, 100L, "v2-7")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    val v2 = bucketVersions(t)
    val moved = v2.filter(_._2 == "d0000000002").keySet
    assert(moved.size == 1, s"expected 1 rewritten bucket, got $v2")
    assert(v2.filter(_._2 == "d0000000001").keySet.size == 7)

    // state is correct across mixed-version buckets
    val state = sink.read().get.collect()
      .map(r => r.getAs[Long]("pkey") -> r.getAs[String]("payload")).toMap
    assert(state.size == 64)
    assert(state(7L) == "v2-7")
    assert(state(8L) == "v1-8")
  }

  test("deleteWhere: drops matching rows, rewrites only hit buckets, " +
    "no-op publishes nothing") {
    import org.apache.spark.sql.functions._
    val (sink, t) = mk(buckets = 8)
    sink.mergeUpsert((0L until 64L).map(k => (k, k, k, s"v$k")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    val before = bucketVersions(t)
    // drop a single key: only its bucket may move to d2
    sink.deleteWhere(cfg, col("pkey") === 7L)
    val after = bucketVersions(t)
    assert(after.filter(_._2 == "d0000000002").keySet.size == 1)
    assert(after.count(_._2 == "d0000000001") == before.size - 1)
    val state = sink.read().get.collect().map(_.getAs[Long]("pkey")).toSet
    assert(state == (0L until 64L).toSet - 7L)
    // NULL predicate result keeps the row; no match -> no new version
    sink.deleteWhere(cfg, when(col("pkey") === -1L, lit(true)))
    assert(bucketVersions(t) == after)
    // range TTL: everything below 32 goes in ONE commit
    sink.deleteWhere(cfg, col("ver") < 32L)
    val s2 = sink.read().get.collect().map(_.getAs[Long]("pkey")).toSet
    assert(s2 == (32L until 64L).toSet)
  }

  test("readChanges: keyed diff emits insert/update/delete, skips unchanged") {
    val dir = Files.createTempDirectory("graft_cdc_").toString
    val t = TargetTable("t", s"$dir/target", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 4,
      retainVersions = 5)
    val sink = new ParquetTarget(spark, t)
    // v1: keys 0..9
    sink.mergeUpsert((0L until 10L).map(k => (k, 1L, k, s"a$k")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    // v2: update key 3, insert key 100, stale write on key 4 (ignored)
    sink.mergeUpsert(Seq(
      (3L, 2L, 50L, "b3"), (100L, 1L, 51L, "new"), (4L, 0L, 52L, "stale")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    // v3: hard-delete key 7
    sink.mergeHardDelete(Seq((7L, 9L, 60L, "x")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)

    val feed = sink.readChanges(1L, 3L).get.collect()
      .map(r => r.getAs[Long]("pkey") ->
        ((r.getAs[String]("_change_type"), r.getAs[String]("payload")))).toMap
    assert(feed == Map(
      3L -> (("update", "b3")),
      100L -> (("insert", "new")),
      7L -> (("delete", "a7")))) // delete carries the pre-image
    // adjacent-version feeds: v2→v3 sees only the delete
    val feed23 = sink.readChanges(2L, 3L).get.collect()
      .map(r => (r.getAs[Long]("pkey"), r.getAs[String]("_change_type")))
    assert(feed23.toSeq == Seq((7L, "delete")))
    // same manifests on both sides would be rejected by the precondition
    intercept[IllegalArgumentException] { sink.readChanges(3L, 3L) }

    // pre-image mode: updates emit pre+post pairs
    val pp = sink.readChanges(1L, 3L, updatePreimages = true).get.collect()
      .map(r => (r.getAs[Long]("pkey"), r.getAs[String]("_change_type"),
        r.getAs[String]("payload"))).toSet
    assert(pp == Set(
      (3L, "update_preimage", "a3"), (3L, "update_postimage", "b3"),
      (100L, "insert", "new"), (7L, "delete", "a7")))
  }

  test("lookup fetches exactly the requested keys, reading pruned buckets") {
    val (sink, t) = mk(buckets = 8)
    sink.mergeUpsert((0L until 64L).map(k => (k, 1L, k, s"p$k")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    val got = sink.lookup(Seq(3L, 17L, 3L).toDF("pkey")).get.collect()
      .map(r => r.getAs[Long]("pkey") -> r.getAs[String]("payload")).toMap
    assert(got == Map(3L -> "p3", 17L -> "p17"))
    // absent keys return nothing; extra columns on the key frame ignored
    assert(sink.lookup(Seq((999L, "x")).toDF("pkey", "junk")).get.count() == 0)
    // pruning: the scanned files all come from the keys' own buckets
    val probe = sink.lookup(Seq(3L).toDF("pkey")).get
      .select(input_file_name().as("f")).distinct().collect().map(_.getString(0))
    val bucketDirs = probe.map(f =>
      f.split("/").find(_.startsWith("__graft_bucket=")).get).distinct
    assert(bucketDirs.length == 1, s"expected one bucket dir, got $bucketDirs")
  }

  test("incremental agg maintenance from the feed equals re-aggregation") {
    import graft.ops.Incremental
    val dir = Files.createTempDirectory("graft_inc_").toString
    val t = TargetTable("t", s"$dir/target", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 4,
      retainVersions = 5)
    val sink = new ParquetTarget(spark, t)
    sink.mergeUpsert((0L until 20L).map(k => (k, 1L, k, s"g${k % 3}", k * 1.5))
      .toDF("pkey", "ver", "seq", "grp", "v"), cfg)
    sink.mergeUpsert(Seq(
      (3L, 2L, 50L, "g1", 100.0),   // update: moves groups g0 -> g1
      (100L, 1L, 51L, "g2", 7.25)). // insert
      toDF("pkey", "ver", "seq", "grp", "v"), cfg)
    sink.mergeHardDelete(Seq((8L, 9L, 60L, "g2", 0.0)).toDF
      ("pkey", "ver", "seq", "grp", "v"), cfg)

    val base = Incremental.countSumAgg(
      sink.readVersion(1L).get, Seq("grp"), "v")
    val feed = sink.readChanges(1L, 3L, updatePreimages = true).get
    val maintained = Incremental.applyAggDeltas(
      base, Incremental.aggDeltas(feed, Seq("grp"), "v"), Seq("grp"))
    val direct = Incremental.countSumAgg(sink.read().get, Seq("grp"), "v")
    assertSameRows(maintained, direct)

    // a feed without pre-images cannot be maintained exactly: fail loud
    val noPre = sink.readChanges(1L, 3L).get
    intercept[Exception] {
      Incremental.aggDeltas(noPre, Seq("grp"), "v").collect()
    }
  }

  test("hard delete prunes to tombstone buckets; emptied bucket disappears") {
    val (sink, t) = mk(buckets = 4)
    sink.mergeUpsert((0L until 16L).map(k => (k, 1L, k, s"p$k")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    // delete every key of one bucket (keys hashing to the same bucket):
    // find them via the manifest math — just delete keys 0..15 with newer
    // tombstones restricted to one bucket by probing state afterwards.
    val all = sink.read().get.select("pkey").as[Long].collect().toSet
    sink.mergeHardDelete((0L until 16L).map(k => (k, 2L, 100L + k, "x")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    assert(sink.read().isEmpty || sink.read().get.count() == 0)
    assert(all.size == 16)
  }

  test("reopening with a different bucket count fails loud, not silently") {
    val (sink, t) = mk(buckets = 8)
    sink.mergeUpsert(Seq((1L, 1L, 1L, "a")).toDF("pkey", "ver", "seq", "payload"), cfg)
    val wrong = new ParquetTarget(spark, t.copy(buckets = 4))
    val e = intercept[IllegalStateException] {
      wrong.mergeUpsert(Seq((2L, 1L, 2L, "b")).toDF("pkey", "ver", "seq", "payload"), cfg)
    }
    assert(e.getMessage.contains("bucket count is immutable"))
  }

  test("int-typed batch keys hash like the stored long keys (no wrong-bucket prune)") {
    val (sink, t) = mk(buckets = 8)
    sink.mergeUpsert((0L until 16L).map(k => (k, 1L, k, s"p$k")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    // batch with int keys: must update the existing rows, not duplicate them
    val intBatch = Seq((7, 2L, 100L, "updated")).toDF("pkey", "ver", "seq", "payload")
    sink.mergeUpsert(intBatch, cfg)
    val state = sink.read().get.collect()
      .map(r => r.getAs[Long]("pkey") -> r.getAs[String]("payload")).toMap
    assert(state.size == 16)
    assert(state(7L) == "updated")
  }

  test("new keys landing in never-written buckets merge from empty slice") {
    val (sink, t) = mk(buckets = 64) // sparse: most buckets never written
    sink.mergeUpsert(Seq((1L, 1L, 1L, "a")).toDF("pkey", "ver", "seq", "payload"), cfg)
    sink.mergeUpsert(Seq((2L, 1L, 2L, "b")).toDF("pkey", "ver", "seq", "payload"), cfg)
    val state = sink.read().get.collect()
      .map(r => r.getAs[Long]("pkey") -> r.getAs[String]("payload")).toMap
    assert(state == Map(1L -> "a", 2L -> "b"))
  }

  test("GC leaves exactly the latest manifest and its referenced dirs") {
    val (sink, t) = mk(buckets = 4)
    (1 to 5).foreach { v =>
      sink.mergeUpsert(Seq((v.toLong % 3L, v.toLong, v.toLong, s"p$v")).toDF
        ("pkey", "ver", "seq", "payload"), cfg)
    }
    val root = new Path(t.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(root).map(_.getPath.getName).toSet
    val manifests = names.filter(n => n.startsWith("m") && !n.endsWith(".tmp"))
    assert(manifests == Set("m0000000005")) // older manifests GC'd
    // every delta dir still on disk holds at least one referenced bucket
    val referenced = bucketVersions(t).values.toSet
    val deltas = names.filter(_.startsWith("d"))
    assert(deltas == referenced, s"unreferenced deltas leak: $names")
    // state intact after all the GC churn
    assert(sink.read().get.count() == 3) // keys 0, 1, 2
  }

  test("soft-delete migration rewrites all buckets once, then prunes") {
    val (sink, t) = mk(buckets = 8)
    sink.mergeUpsert((0L until 32L).map(k => (k, 1L, k, s"p$k")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    sink.mergeSoftDelete(Seq((3L, 2L, 99L, "t")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    // migration rewrote everything onto d2 (schema now uniform with flag)
    val v2 = bucketVersions(t)
    assert(v2.values.toSet == Set("d0000000002"))
    val flags = sink.read().get.collect()
      .map(r => r.getAs[Long]("pkey") -> r.getAs[Boolean]("row_active")).toMap
    assert(!flags(3L) && flags(4L))

    // second soft delete: only the tombstone's bucket rewrites
    sink.mergeSoftDelete(Seq((5L, 2L, 100L, "t")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    val v3 = bucketVersions(t)
    assert(v3.values.count(_ == "d0000000003") == 1)
  }

  test("retainVersions keeps a readable time-travel window; GC past it") {
    val dir = Files.createTempDirectory("graft_retain_").toString
    val t = TargetTable("t", s"$dir/target", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 4,
      retainVersions = 3)
    val sink = new ParquetTarget(spark, t)
    (1 to 5).foreach { v =>
      sink.mergeUpsert(Seq((1L, v.toLong, v.toLong, s"p$v")).toDF
        ("pkey", "ver", "seq", "payload"), cfg)
    }
    assert(sink.versions() == Seq(3L, 4L, 5L))
    // time travel: version 4's snapshot still shows payload p4
    val v4 = sink.readVersion(4L).get.collect()
      .map(_.getAs[String]("payload")).toSeq
    assert(v4 == Seq("p4"))
    assert(sink.readVersion(2L).isEmpty) // GC'd
    assert(sink.read().get.collect().map(_.getAs[String]("payload")).toSeq
      == Seq("p5"))
  }

  test("expireSnapshots shrinks the live window on demand: survivors " +
    "byte-identical, expired gone, idempotent, no-op below keep") {
    val dir = Files.createTempDirectory("graft_expire_").toString
    val t = TargetTable("t", s"$dir/target", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 4,
      retainVersions = 10)
    val sink = new ParquetTarget(spark, t)
    (1 to 5).foreach { v =>
      sink.mergeUpsert(Seq((v.toLong % 2, v.toLong, v.toLong, s"p$v"))
        .toDF("pkey", "ver", "seq", "payload"), cfg)
    }
    assert(sink.versions() == Seq(1L, 2L, 3L, 4L, 5L))
    val v4Before = sink.readVersion(4L).get.collect()
      .map(r => (r.getAs[Long]("pkey"), r.getAs[String]("payload")))
      .toSet
    assert((sink.expireSnapshots(2): (Long, Long)) == ((5L, 2L)))
    assert(sink.versions() == Seq(4L, 5L))
    assert(sink.readVersion(3L).isEmpty && sink.readVersion(1L).isEmpty)
    val v4After = sink.readVersion(4L).get.collect()
      .map(r => (r.getAs[Long]("pkey"), r.getAs[String]("payload")))
      .toSet
    assert(v4After == v4Before, "survivor snapshot must be untouched")
    // idempotent rerun and no-op when already inside the window
    assert((sink.expireSnapshots(2): (Long, Long)) == ((2L, 2L)))
    assert((sink.expireSnapshots(5): (Long, Long)) == ((2L, 2L)))
    // the change feed across the retained window still works
    assert(sink.readChanges(4L, 5L).isDefined)
  }

  test("rebucketTo migrates to a wider layout: state identical, one " +
    "commit, source untouched, contract violations loud") {
    val dir = Files.createTempDirectory("graft_rebkt_").toString
    val srcT = TargetTable("t", s"$dir/src", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 2)
    val src = new ParquetTarget(spark, srcT)
    val rows = (1L to 40L).map(i => (i, i, i, s"p$i"))
    src.mergeUpsert(rows.toDF("pkey", "ver", "seq", "payload"), cfg)
    val dstT = TargetTable("t", s"$dir/dst", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 8)
    val dst = src.rebucketTo(dstT, cfg)
    assert(dst.versions() == Seq(1L))
    val before = src.read().get.collect()
      .map(r => (r.getAs[Long]("pkey"), r.getAs[String]("payload"))).toSet
    val after = dst.read().get.collect()
      .map(r => (r.getAs[Long]("pkey"), r.getAs[String]("payload"))).toSet
    assert(after == before)
    // lookups prune against the NEW bucket map
    val hit = dst.lookup(Seq(7L).toDF("pkey")).get.collect()
    assert(hit.map(_.getAs[Long]("pkey")).toSeq == Seq(7L))
    // wider layout actually spreads: more than 2 nonempty buckets
    assert(dst.stats().get.filter("n_rows > 0").count() > 2L)
    // contract violations fail loud
    intercept[IllegalArgumentException] {
      src.rebucketTo(srcT, cfg) //                          same root
    }
    intercept[IllegalArgumentException] {
      src.rebucketTo(dstT, cfg) //                destination nonempty
    }
    intercept[IllegalArgumentException] {
      src.rebucketTo(TargetTable("t", s"$dir/dst2", keyCols = Seq("pkey"),
        versionCol = "seq", tieBreakCols = Seq("ver"), buckets = 8), cfg)
    } //                                            contract drift
  }

  test("compact rewrites to one file per bucket without changing state") {
    val dir = Files.createTempDirectory("graft_compact_").toString
    // The engine writes one file per bucket, so the multi-file buckets come
    // from a table the previous writer made (see ParentTable).
    val t = ParentTable.copyTo(s"$dir/target").copy(retainVersions = 1)
    val sink = new ParquetTarget(spark, t)
    val wideCfg = IngestConfig(name = "compact-spec", maxWriterPartitions = 8)
    val before = canon(sink.read().get)
    def filesPerBucket: Map[String, Int] = {
      val root = new Path(t.path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      bucketVersions(t).map { case (b, _) =>
        val dirPath = fs.listStatus(root).map(_.getPath)
          .filter(p => p.getName.startsWith("d"))
          .flatMap(d => fs.listStatus(d).map(_.getPath))
          .find(_.getName == s"__graft_bucket=$b").get
        s"b$b" -> fs.listStatus(dirPath).count(_.getPath.getName.endsWith(".parquet"))
      }
    }
    assert(filesPerBucket.values.exists(_ > 1), "test needs multi-file buckets")
    sink.compact(wideCfg)
    assert(filesPerBucket.values.forall(_ == 1), s"not compacted: $filesPerBucket")
    assert(canon(sink.read().get) == before)
  }

  test("stats reports per-bucket rows of the current snapshot") {
    val (sink, _) = mk(buckets = 4)
    sink.mergeUpsert((0L until 40L).map(k => (k, 1L, k, s"p$k")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    val st = sink.stats().get.collect()
      .map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("n_rows")).toMap
    assert(st.values.sum == 40L)
    assert(st.keySet.subsetOf((0 until 4).toSet))
  }

  test("explicit migrate widens a column and adds one; merges then accept the new schema") {
    import org.apache.spark.sql.functions.{col, lit}
    val (sink, t) = mk(buckets = 4)
    sink.mergeUpsert((0L until 16L).map(k => (k, 1L, k, k.toInt)).toDF
      ("pkey", "ver", "seq", "amount"), cfg)
    // widening batch rejected while the target is un-migrated
    val widened = Seq((1L, 2L, 50L, 1.5, "eu"))
      .toDF("pkey", "ver", "seq", "amount", "region")
    val err = intercept[IllegalArgumentException] {
      sink.mergeUpsert(widened, cfg)
    }
    assert(err.getMessage.contains("migrate"))

    // the deliberate path: widen amount int->double, add region
    sink.migrate(cfg) { df =>
      df.withColumn("amount", col("amount").cast("double"))
        .withColumn("region", lit("us"))
    }
    // one uniform snapshot: every bucket rewritten in one commit
    assert(bucketVersions(t).values.toSet.size == 1)
    val schema = sink.read().get.schema
    assert(schema("amount").dataType.typeName == "double")
    assert(schema("region").dataType.typeName == "string")

    // and the previously-rejected batch now merges
    sink.mergeUpsert(widened, cfg)
    val got = sink.read().get.collect()
      .map(r => r.getAs[Long]("pkey") ->
        ((r.getAs[Double]("amount"), r.getAs[String]("region")))).toMap
    assert(got(1L) == ((1.5, "eu")))
    assert(got(2L) == ((2.0, "us")))
  }

  test("migrate refuses to drop merge-contract columns") {
    val (sink, _) = mk(buckets = 2)
    sink.mergeUpsert(Seq((1L, 1L, 1L, "p")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    val err = intercept[IllegalArgumentException] {
      sink.migrate(cfg)(_.drop("seq"))
    }
    assert(err.getMessage.contains("seq"))
  }

  test("commit takes a single-writer lease: contention fails loud, breakLock recovers") {
    val (sink, t) = mk(buckets = 2)
    sink.mergeUpsert(Seq((1L, 1L, 1L, "p")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    // simulate a concurrent (or crashed) writer holding the lease
    val root = new Path(t.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(root, "_LOCK"), false).close()
    val err = intercept[IllegalStateException] {
      sink.mergeUpsert(Seq((2L, 1L, 1L, "q")).toDF
        ("pkey", "ver", "seq", "payload"), cfg)
    }
    assert(err.getMessage.contains("single-writer"))
    sink.breakLock()
    sink.mergeUpsert(Seq((2L, 1L, 1L, "q")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    assert(sink.read().get.count() == 2)
  }

  test("lease token verify: a racing overwrite during settle aborts the loser") {
    // Local FS create-exclusive is check-then-create, so the target falls
    // back to token verification. The settle-point test seam sequences the
    // lost race deterministically: the hook runs after the committer's
    // token write closes and before its read-back, exactly where a racing
    // writer's overwrite would land — no racer thread, no wall clock.
    val dir = Files.createTempDirectory("graft_bkt_").toString
    val t = TargetTable("t", s"$dir/target", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 2)
    val sink = new ParquetTarget(spark, t)
    val root = new Path(t.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    val lock = new Path(root, "_LOCK")
    @volatile var overwrote = false
    sink.onLeaseSettle = () => {
      val out = fs.create(lock, true) // the non-atomic overwrite "win"
      try out.write("foreign-writer-token".getBytes("UTF-8"))
      finally out.close()
      overwrote = true
    }
    val err = intercept[IllegalStateException] {
      sink.mergeUpsert(Seq((1L, 1L, 1L, "p")).toDF
        ("pkey", "ver", "seq", "payload"), cfg)
    }
    assert(overwrote)
    assert(err.getMessage.contains("overwritten"))
    assert(sink.read().isEmpty) // nothing was published
  }

  test("cloneTo: zero-copy branch, copy-on-write, source untouched") {
    val (sink, t) = mk(buckets = 4)
    sink.mergeUpsert((0L until 16L).map(k => (k, 1L, k, s"v1-$k")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    val branchDir = Files.createTempDirectory("graft_branch_").toString
    sink.cloneTo(s"$branchDir/b")
    val bt = TargetTable("b", s"$branchDir/b", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 4)
    val branch = new ParquetTarget(spark, bt)
    // Zero-copy: the branch root holds ONLY metadata (no parquet bytes)
    // — the manifest (which carries the zone bounds) and the pointer.
    val broot = new Path(bt.path)
    val fs = broot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(broot).map(_.getPath.getName).toSet ==
      Set("m0000000001", "_LATEST"))
    // The branch reads the source's snapshot through shared files.
    assert(branch.read().get.count() == 16L)
    // Copy-on-write: a one-key branch merge writes ONLY that bucket
    // under the branch root; the source's state is untouched.
    branch.mergeUpsert(Seq((3L, 2L, 99L, "branch-3")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    val bFiles = branch.read().get.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(bFiles.exists(_.contains(branchDir)) &&
      bFiles.exists(!_.contains(branchDir))) // mixed: own delta + shared
    val bState = branch.read().get.collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(bState(3L) == "branch-3" && bState(5L) == "v1-5")
    val sState = sink.read().get.collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(sState(3L) == "v1-3") // source never saw the branch write
    // A committed destination refuses a second clone; an empty source
    // refuses to clone at all.
    intercept[IllegalStateException] { sink.cloneTo(s"$branchDir/b") }
    val (empty, _) = mk(buckets = 4)
    intercept[IllegalStateException] {
      empty.cloneTo(s"$branchDir/c")
    }
  }

  test("compactClustered: state unchanged, rows inside each file sorted " +
      "by the cluster key") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val (sink, _) = mk(buckets = 4)
    val rng = new scala.util.Random(3)
    val rows = (0L until 200L).map(k =>
      (k, 1L, k, rng.nextInt(1000).toLong))
    sink.mergeUpsert(rows.toDF("pkey", "ver", "seq", "metric"), cfg)
    val before = sink.read().get.collect()
      .map(r => (r.getLong(0), r.getLong(3))).sorted
    sink.compactClustered(cfg, df => Seq(df.col("metric")))
    val after = sink.read().get
    assert(after.collect().map(r => (r.getLong(0), r.getLong(3)))
      .sorted.toSeq == before.toSeq) // layout moved, data didn't
    // One file per bucket, and within each file the cluster column is
    // nondecreasing in physical read order.
    val byFile = after.select(input_file_name().as("f"), col("metric"))
      .collect().zipWithIndex
      .groupBy(_._1.getString(0))
    assert(byFile.size == 4)
    byFile.values.foreach { rs =>
      val ms = rs.sortBy(_._2).map(_._1.getLong(1)).toSeq
      assert(ms == ms.sorted, s"file not clustered: $ms")
    }
  }

  test("value index: CDC refresh retires stale entries, equality probe " +
      "is value-bucketed, replay is idempotent") {
    val dir = Files.createTempDirectory("graft_vx_").toString
    val t = TargetTable("t", s"$dir/base", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 8,
      retainVersions = 4)
    val sink = new ParquetTarget(spark, t)
    sink.mergeUpsert(Seq((1L, 1L, 1L, "red"), (2L, 1L, 2L, "red"),
      (3L, 1L, 3L, "blue")).toDF("pkey", "ver", "seq", "color"), cfg)
    val ix = new graft.sink.ValueIndex(spark, sink, "color",
      s"$dir/ix", buckets = 8)
    ix.rebuild(cfg)
    def probe(v: String) = ix.lookupEq(Seq(v).toDF("ival"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(probe("red") == Seq(1L, 2L) && probe("blue") == Seq(3L))
    // All entries of one value live in ONE bucket: ≤ 2 distinct values
    // present → ≤ 2 non-empty buckets in the index.
    val occupied = ix.target.stats().get.filter($"n_rows" > 0).count()
    assert(occupied <= 2)
    // Update flips 2's color; delete removes 3; insert adds 4.
    sink.mergeUpsert(Seq((2L, 2L, 9L, "blue"), (4L, 2L, 9L, "green"))
      .toDF("pkey", "ver", "seq", "color"), cfg)
    sink.mergeHardDelete(Seq((3L, 3L, 9L, "blue"))
      .toDF("pkey", "ver", "seq", "color"), cfg)
    ix.refresh(cfg)
    assert(probe("red") == Seq(1L))
    assert(probe("blue") == Seq(2L)) // 2 arrived, 3 retired
    assert(probe("green") == Seq(4L))
    // Refresh with nothing new is a no-op; marker tracks the base.
    val v = ix.syncedBaseVersion.get
    ix.refresh(cfg)
    assert(ix.syncedBaseVersion.get == v)
    assert(probe("blue") == Seq(2L))
    // An unbuilt index refuses refresh loud.
    val ix2 = new graft.sink.ValueIndex(spark, sink, "color",
      s"$dir/ix2", buckets = 8)
    intercept[IllegalStateException] { ix2.refresh(cfg) }
  }

  test("IndexedParquetSink: index stays current through merge, update, " +
      "and hard delete batches") {
    val dir = Files.createTempDirectory("graft_ixs_").toString
    val t = TargetTable("t", s"$dir/base", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 4,
      retainVersions = 3)
    val base = new ParquetTarget(spark, t)
    val ix = new graft.sink.ValueIndex(spark, base, "color",
      s"$dir/ix", buckets = 4)
    val sink = new graft.sink.IndexedParquetSink(spark, base, ix)
    def probe(v: String) = ix.lookupEq(Seq(v).toDF("ival"))
      .collect().map(_.getLong(0)).sorted.toSeq
    // Batch 1 bootstraps (rebuild), batch 2 refreshes incrementally.
    sink.mergeUpsert(Seq((1L, 1L, 1L, "red"), (2L, 1L, 2L, "blue"))
      .toDF("pkey", "ver", "seq", "color"), cfg)
    assert(probe("red") == Seq(1L))
    sink.mergeUpsert(Seq((1L, 2L, 3L, "blue"), (3L, 2L, 3L, "red"))
      .toDF("pkey", "ver", "seq", "color"), cfg)
    assert(probe("red") == Seq(3L) && probe("blue") == Seq(1L, 2L))
    sink.mergeHardDelete(Seq((2L, 3L, 9L, "blue"))
      .toDF("pkey", "ver", "seq", "color"), cfg)
    assert(probe("blue") == Seq(1L))
    assert(ix.syncedBaseVersion.get == base.versions().last)
  }

  test("a _BASE_VERSION.tmp left by a crash does not break the next refresh") {
    val dir = Files.createTempDirectory("graft_vxtmp_").toString
    val t = TargetTable("t", s"$dir/base", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 4,
      retainVersions = 4)
    val base = new ParquetTarget(spark, t)
    base.mergeUpsert(Seq((1L, 1L, 1L, "red")).toDF("pkey", "ver", "seq", "color"), cfg)
    val ix = new graft.sink.ValueIndex(spark, base, "color", s"$dir/ix", buckets = 4)
    ix.rebuild(cfg)
    // a marker publish that died after creating its tmp file, before the rename
    Files.write(java.nio.file.Paths.get(s"$dir/ix/_BASE_VERSION.tmp"), Array.emptyByteArray)
    base.mergeUpsert(Seq((2L, 1L, 2L, "red")).toDF("pkey", "ver", "seq", "color"), cfg)
    ix.refresh(cfg)
    assert(ix.syncedBaseVersion.contains(base.versions().last))
    assert(ix.lookupEq(Seq("red").toDF("ival")).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L))
  }

  test("JoinView: incremental refresh equals full re-enrichment through " +
      "insert, update, and delete") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val dir = Files.createTempDirectory("graft_jv_").toString
    val t = TargetTable("t", s"$dir/base", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 4,
      retainVersions = 4)
    val base = new ParquetTarget(spark, t)
    val dim = Seq((0L, "alpha"), (1L, "beta")).toDF("dk", "dname")
    val enrich = (df: org.apache.spark.sql.DataFrame) => df
      .withColumn("__dk", col("pkey") % 2)
      .join(broadcast(dim), col("__dk") === col("dk"), "left_outer")
      .drop("__dk", "dk")
    val jv = new graft.sink.JoinView(spark, base, s"$dir/view", enrich, 4)
    base.mergeUpsert(Seq((1L, 1L, 1L, 10.0), (2L, 1L, 2L, 20.0))
      .toDF("pkey", "ver", "seq", "metric"), cfg)
    jv.rebuild(cfg)
    base.mergeUpsert(Seq((2L, 2L, 3L, 25.0), (3L, 2L, 3L, 30.0))
      .toDF("pkey", "ver", "seq", "metric"), cfg)
    base.mergeHardDelete(Seq((1L, 3L, 9L, 0.0))
      .toDF("pkey", "ver", "seq", "metric"), cfg)
    jv.refresh(cfg)
    val got = jv.read().get
      .select("pkey", "metric", "dname").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted
    assert(got.toSeq == Seq((2L, 25.0, "alpha"), (3L, 30.0, "beta")))
    // Maintained view == full re-enrichment of the live state.
    val full = enrich(base.read().get)
      .select("pkey", "metric", "dname").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted
    assert(got.toSeq == full.toSeq)
    // Idempotent no-op when current.
    val v = jv.syncedBaseVersion.get
    jv.refresh(cfg)
    assert(jv.syncedBaseVersion.get == v)
  }

  test("zone maps: incremental-sync read skips buckets untouched since " +
      "the sync point, result equals the filtered full scan") {
    val (sink, _) = mk(buckets = 8)
    // Seed: keys 0..63, versions all below 100.
    sink.mergeUpsert((0L until 64L).map(k => (k, 10L + k, k, s"v1-$k"))
      .toDF("pkey", "ver", "seq", "payload"), cfg)
    // Incremental batch: ONE key at a high version → one bucket's max
    // rises above the sync point; the other 7 keep max <= 73.
    sink.mergeUpsert(Seq((7L, 500L, 100L, "v2-7")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    val zones = sink.zoneMaps()
    assert(zones.size == 8)
    assert(zones.values.count(_._2 >= 100L) == 1)
    // "Rows modified since version 100": 7 of 8 buckets skipped.
    val Some((total, read, skipped)) = sink.pruneAudit(100L, Long.MaxValue)
    assert(total == 8 && read == 1 && skipped == 7)
    val inc = sink.readWhereVersionBetween(100L, Long.MaxValue).get
      .collect()
    assert(inc.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((7L, 500L)))
    // Conservative equality on an arbitrary window: pruned read ==
    // full-scan filter.
    val lo = 20L; val hi = 40L
    val pruned = sink.readWhereVersionBetween(lo, hi).get
      .select("pkey", "ver").collect().map(r =>
        (r.getLong(0), r.getLong(1))).sorted
    val full = sink.read().get.filter($"ver" >= lo && $"ver" <= hi)
      .select("pkey", "ver").collect().map(r =>
        (r.getLong(0), r.getLong(1))).sorted
    assert(pruned.toSeq == full.toSeq && pruned.nonEmpty)
    // A disjoint future window reads nothing but keeps the schema.
    val none = sink.readWhereVersionBetween(1000L, 2000L).get
    assert(none.count() == 0L)
    assert(sink.pruneAudit(1000L, 2000L).get._2 == 0)
    // The clone carries the sidecar: same pruning on the branch.
    val dir = Files.createTempDirectory("graft_zmclone_").toString
    sink.cloneTo(s"$dir/branch")
    val branch = new ParquetTarget(spark,
      TargetTable("t", s"$dir/branch", keyCols = Seq("pkey"),
        versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 8))
    assert(branch.pruneAudit(100L, Long.MaxValue).get == ((8, 1, 7)))
  }

  /** Rollback needs the target version still retained. */
  private def mkRetained(buckets: Int): ParquetTarget = {
    val dir = Files.createTempDirectory("graft_bkt_").toString
    new ParquetTarget(spark, TargetTable("t", s"$dir/target",
      keyCols = Seq("pkey"), versionCol = "ver", tieBreakCols = Seq("seq"),
      buckets = buckets, retainVersions = 8))
  }

  test("rollbackTo: metadata-only restore is bit-identical to the " +
      "target version, is a NEW commit, and applies no later deletion " +
      "vector") {
    val sink = mkRetained(buckets = 4)
    sink.mergeUpsert((0L until 40L).map(k => (k, 1L, k, s"v1-$k")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    sink.mergeUpsert((0L until 20L).map(k => (k, 2L, k, s"v2-$k")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    val v2 = sink.readVersion(2L).get.collect().map(_.toSeq).toSet
    // v3: vectored delete writes a DV sidecar
    sink.deleteVectored(cfg, org.apache.spark.sql.functions.col("pkey") < 10L)
    assert(sink.read().get.count() == 30L)
    sink.rollbackTo(2L)
    assert(sink.versions().contains(4L), "rollback is a new version")
    assert(sink.read().get.collect().map(_.toSeq).toSet == v2,
      "restored state must be bit-identical to version 2")
    // history preserved: the deleted state is still time-travelable
    assert(sink.readVersion(3L).get.count() == 30L)
  }

  test("rollbackTo: rolling back to a version WITH an applicable DV " +
      "re-pins that vector (copy path)") {
    val sink = mkRetained(buckets = 4)
    sink.mergeUpsert((0L until 40L).map(k => (k, 1L, k, s"v1-$k")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    sink.deleteVectored(cfg, org.apache.spark.sql.functions.col("pkey") < 5L) // v2
    val v2 = sink.read().get.collect().map(_.toSeq).toSet
    assert(v2.size == 35)
    sink.mergeUpsert((0L until 40L).map(k => (k, 3L, k, s"v3-$k")).toDF
      ("pkey", "ver", "seq", "payload"), cfg) // v3
    sink.rollbackTo(2L)
    assert(sink.read().get.collect().map(_.toSeq).toSet == v2,
      "restored state must include the version-2 deletion vector")
  }

  test("rollbackTo refuses out-of-range and expired versions") {
    val sink = mkRetained(buckets = 4)
    sink.mergeUpsert((0L until 8L).map(k => (k, 1L, k, "x")).toDF
      ("pkey", "ver", "seq", "payload"), cfg)
    intercept[IllegalArgumentException](sink.rollbackTo(5L))
    intercept[IllegalArgumentException](sink.rollbackTo(0L))
  }
}
