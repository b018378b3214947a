package graft

import org.apache.spark.sql.DataFrame

import graft.ops.{AsOf, Dedup}
import graft.sink.Merge

/** Randomized invariants for the core merge/dedup/as-of semantics
  * (SURVEY.md §5's promised dedup properties): seeded random workloads
  * with deliberately colliding keys, versions, and ties, checked against
  * driver-side models. */
class PropertySpec extends SparkSpec {

  import spark.implicits._

  private type R = (Long, Long, Long, String)

  /** Tiny domains force key/version collisions; (pkey, ver, seq) unique so
    * latest-wins is fully deterministic (seq is the tie-break). */
  private def randomRows(rng: scala.util.Random, n: Int): List[R] =
    List.fill(n)((
      rng.nextInt(7).toLong,
      rng.nextInt(5).toLong,
      rng.nextInt(500).toLong,
      rng.alphanumeric.take(4).mkString))
      .distinctBy(r => (r._1, r._2, r._3))

  private def df(rows: List[R]): DataFrame =
    rows.toDF("pkey", "ver", "seq", "payload")

  private def canonRows(d: DataFrame): Set[R] =
    d.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet

  /** Driver-side latest-wins model: max (ver, seq) per key. */
  private def model(rows: List[R]): Set[R] =
    rows.groupBy(_._1).map { case (_, g) => g.maxBy(r => (r._2, r._3)) }.toSet

  test("dedup agrees with the model, is idempotent and input-order blind") {
    val rng = new scala.util.Random(421)
    (1 to 3).foreach { _ =>
      val rows = randomRows(rng, 40)
      val d1 = Dedup.latestWins(df(rows), Seq("pkey"), "ver", Seq("seq"))
      assert(canonRows(d1) == model(rows))
      val d2 = Dedup.latestWins(d1, Seq("pkey"), "ver", Seq("seq"))
      assert(canonRows(d2) == model(rows))
      val d3 = Dedup.latestWins(df(rows.reverse), Seq("pkey"), "ver", Seq("seq"))
      assert(canonRows(d3) == model(rows))
      // both implementations agree
      val dw = Dedup.latestWinsWindow(df(rows), Seq("pkey"), "ver", Seq("seq"))
      assert(canonRows(dw) == model(rows))
    }
  }

  test("merge: frame entry == dedup-of-whole on random splits") {
    val rng = new scala.util.Random(422)
    (1 to 3).foreach { _ =>
      val rows = randomRows(rng, 40)
      val cut = 1 + rng.nextInt(math.max(1, rows.size - 2))
      val (a, b) = rows.splitAt(cut)
      val target = Dedup.latestWins(df(a), Seq("pkey"), "ver", Seq("seq"))
      val merged = Merge.mergeFrame(target, df(b), Merge.Change.Upsert,
        Seq("pkey"), "ver", Seq("seq"))
      assert(canonRows(merged) == model(rows), s"merge diverged (cut=$cut)")
    }
  }

  test("merge applied per-batch converges to the one-shot answer") {
    val rng = new scala.util.Random(423)
    (1 to 2).foreach { _ =>
      val rows = randomRows(rng, 30)
      // batch size >= 6 caps the merge-chain depth (each chained merge
      // deepens the logical plan; analysis time grows with depth)
      val batches = rows.grouped(6 + rng.nextInt(5)).toList
      val incremental = batches.tail.foldLeft(
        Dedup.latestWins(df(batches.head), Seq("pkey"), "ver", Seq("seq"))) {
        (acc, batch) =>
          Merge.mergeFrame(acc, df(batch), Merge.Change.Upsert, Seq("pkey"), "ver", Seq("seq"))
      }
      assert(canonRows(incremental) == model(rows))
    }
  }

  test("bucketed kernel and frame entry == latest-wins model on random batches") {
    import org.apache.spark.sql.functions.col
    import graft.LatestWinsModel.State
    import graft.model.TargetTable
    val table = TargetTable("kernel", "unused", keyCols = Seq("pkey"),
      versionCol = "ver", tieBreakCols = Seq("seq"), buckets = 4)
    type S = (Long, Long, Long, String, Boolean)
    def rowsOf(d: DataFrame): Set[S] =
      d.select("pkey", "ver", "seq", "payload", "row_active").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4))).toSet
    def rowsOfModel(m: State): Set[S] = m.map { case (k, (v, s, p, a)) => (k, v, s, p, a) }.toSet
    /** The whole table after the kernel: rewritten buckets ++ the rest. */
    def viaKernel(change: Merge.Change, target: DataFrame, batch: DataFrame): DataFrame = {
      val b = target.withColumn(Merge.BucketCol, Merge.bucketOf(table, target))
      Merge.rewrite(table, change, batch, Some(target.schema), (0 until table.buckets).toSet,
        bs => b.where(col(Merge.BucketCol).isin(bs: _*)).drop(Merge.BucketCol),
        maxWriterPartitions = 3)
        .fold(target) { r =>
          // a flag migration rewrites every bucket: the rest is empty
          r.rows.drop(Merge.BucketCol).unionByName(
            b.where(!col(Merge.BucketCol).isin(r.buckets.toSeq: _*)).drop(Merge.BucketCol),
            allowMissingColumns = true)
        }
    }
    val rng = new scala.util.Random(424)
    (1 to 4).foreach { round =>
      // stored: a random subset of keys 0..19, one row each
      val stored = (0L until 20L).filter(_ => rng.nextInt(4) > 0).map(k =>
        (k, rng.nextInt(4).toLong, rng.nextInt(3).toLong, s"t$k", rng.nextBoolean())).toList
      val byKey = stored.map(r => r._1 -> r).toMap
      // batch orderings: exact ties with the stored row, stale ones, and
      // random ones; keys repeat within a batch and 20..29 are never stored
      def ordering(k: Long): (Long, Long) = byKey.get(k) match {
        case Some(r) if rng.nextInt(3) == 0 => (r._2, r._3)
        case Some(r) if rng.nextInt(2) == 0 => (r._2 - 1, r._3)
        case _ => (rng.nextInt(5).toLong, rng.nextInt(3).toLong)
      }
      def batchKeys(n: Int) = List.fill(n)(rng.nextInt(30).toLong)
      val ups = batchKeys(25).map { k => val (v, s) = ordering(k); (k, v, s, s"u$k.$v.$s") }
        .distinctBy(r => (r._1, r._2, r._3))
      val dels = batchKeys(12).map { k => val (v, s) = ordering(k); (k, v, s) }
      val target = stored.toDF("pkey", "ver", "seq", "payload", "row_active")
      val upDf = ups.toDF("pkey", "ver", "seq", "payload")
      val delDf = dels.toDF("pkey", "ver", "seq")
      val state: State = stored.map { case (k, v, s, p, a) => k -> ((v, s, p, a)) }.toMap
      // the first soft delete on a table without the flag sets it on every row
      val migrated = state.map { case (k, r) => k -> r.copy(_4 = true) }
      val unflagged = target.drop("row_active")
      Seq(
        ("upsert", Merge.Change.Upsert, target, upDf, LatestWinsModel.upsert(state, ups)),
        ("soft", Merge.Change.SoftDelete, target, delDf, LatestWinsModel.softDelete(state, dels)),
        ("soft with flag migration", Merge.Change.SoftDelete, unflagged, delDf,
          LatestWinsModel.softDelete(migrated, dels)),
        ("hard", Merge.Change.HardDelete, target, delDf, LatestWinsModel.hardDelete(state, dels))
      ).foreach { case (what, change, t, batch, want) =>
        val ctx = s"round $round $what"
        assert(rowsOf(viaKernel(change, t, batch)) == rowsOfModel(want), s"$ctx kernel")
        assert(rowsOf(Merge.mergeFrame(t, batch, change, Seq("pkey"), "ver", Seq("seq"))) ==
          rowsOfModel(want), s"$ctx frame")
      }
    }
  }

  test("winnow: model-exact, subset of shingles, shared-run guarantee") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextHash
    val rng = new scala.util.Random(425)
    // random long arrays standing in for shingle sequences
    val seqs = List.fill(30)(
      List.fill(rng.nextInt(20))(rng.nextInt(50).toLong + 1))
    val w = 4
    def modelWinnow(sh: List[Long]): List[Long] =
      if (sh.isEmpty) Nil
      else if (sh.size < w) List(sh.min)
      else sh.sliding(w).map(_.min).toList.distinct
    val got = seqs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "sh")
      .select(col("id"), TextHash.winnow(col("sh"), w).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    seqs.zipWithIndex.foreach { case (s, i) =>
      val m = modelWinnow(s)
      assert(got(i.toLong) == m, s"seq $i: $s")
      assert(m.toSet.subsetOf(s.toSet)) // fingerprints are real shingles
    }
  }

  test("components: labels idempotent under relabeling and permutation") {
    import graft.ops.Components
    val rng = new scala.util.Random(426)
    (1 to 2).foreach { _ =>
      val edges = List.fill(25)(
        (rng.nextInt(15).toLong, rng.nextInt(15).toLong))
        .filter(e => e._1 != e._2)
      val base = Components.connectedComponents(
        edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // permuted edge order → identical labeling
      val perm = Components.connectedComponents(
        rng.shuffle(edges).toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(base == perm)
      // a component's label is a member of the component, and minimal
      base.groupBy(_._2).foreach { case (label, members) =>
        assert(members.keySet.contains(label))
        assert(members.keySet.min == label)
      }
      // edges never cross components
      edges.foreach { case (a, b) => assert(base(a) == base(b)) }
    }
  }

  test("as-of agrees with the latest-at-or-before model") {
    val rng = new scala.util.Random(424)
    (1 to 3).foreach { _ =>
      val left = List.fill(25)((rng.nextInt(4).toLong, rng.nextInt(30).toLong))
        .distinct.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      val right = List.fill(25)((rng.nextInt(4).toLong, rng.nextInt(30).toLong))
        .distinct.zipWithIndex.map { case ((k, t), i) => (k, t, 1000L + i) }
      val got = AsOf.joinAsOf(
        left.toDF("k", "lt", "lid"), right.toDF("k", "rt", "rid"),
        Seq("k"), "lt", "rt", Seq("rid"))
        .collect().map(r => r.getLong(2) ->
          Option(r.getAs[java.lang.Long]("asof_rid")).map(_.toLong)).toMap
      assert(got.size == left.size)
      left.foreach { case (k, t, lid) =>
        val expect = right.filter(r => r._1 == k && r._2 <= t)
          .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
        assert(got(lid) == expect, s"key=$k t=$t")
      }
    }
  }

  test("k-core: cores nest (k-core ⊆ (k-1)-core) and every member " +
    "meets the degree bound, on random graphs") {
    import graft.ops.Graph
    val rng = new scala.util.Random(77)
    val edges = List.fill(250)(
      (rng.nextInt(50).toLong, rng.nextInt(50).toLong))
      .filter(e => e._1 != e._2).toDF("a", "b")
    val byK = (2 to 6).map { k =>
      k -> Graph.kCore(edges, "a", "b", k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }.toMap
    (3 to 6).foreach { k =>
      assert(byK(k).keySet.subsetOf(byK(k - 1).keySet), s"k=$k nesting")
      byK(k).values.foreach(d => assert(d >= k, s"k=$k degree bound"))
    }
  }

  test("quantile sketch rank invariant: on random positive data the true " +
    "ceil-rank quantile lands INSIDE the estimated bucket") {
    // stronger than an accuracy tolerance: the integer rank walk must
    // choose exactly the bucket containing the true order statistic
    val rng = new scala.util.Random(97)
    for (trial <- 1 to 3) {
      val vals = List.fill(800)(math.exp(rng.nextGaussian() * 3.0))
        .map(v => math.max(v, 1e-3))
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, "g", v) }
        .toDF("id", "g", "x")
      val est = graft.ops.Sketches.quantileFromSketch(
        graft.ops.Sketches.quantileSketch(df, Seq("g"), "x"),
        Seq("g"), Seq(10, 50, 90, 99))
        .collect().map(r => r.getInt(1) -> r.getDouble(3)).toMap
      val sorted = vals.sorted
      for (p <- Seq(10, 50, 90, 99)) {
        val truth = sorted((math.ceil(p / 100.0 * sorted.size) - 1).toInt.max(0))
        val mid = est(p)
        // bucket bounds from its midpoint: [mid - w/2, mid + w/2),
        // width = 10^(d-3) for d >= 1, and the whole [0,1) underflow
        // bucket for mid == 0.5
        val ok =
          if (mid == 0.5 && truth < 1.0) true
          else {
            val d = math.floor(math.log10(mid)).toInt + 1
            val w = math.pow(10.0, (d - 3).toDouble)
            truth >= mid - w / 2 - 1e-12 && truth < mid + w / 2 + 1e-12
          }
        assert(ok, s"trial $trial p$p: truth $truth outside bucket mid $mid")
      }
    }
  }

  test("liftDeciles: partitioning-invariant and model-exact slices") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(97)
    // duplicate scores force the id tie-break to matter
    val rows = (1 to 300).map(i =>
      (i.toLong, rng.nextInt(20).toDouble, rng.nextInt(2)))
    val run = (p: Int) =>
      graft.ops.Profile.liftDeciles(
        rows.toDF("id", "s", "y").repartition(p),
        col("y") === 1, col("s"), col("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(4))).sortBy(_._1).toSeq
    val a = run(1)
    assert(a == run(17))
    // driver model: sort by (score desc, id), slice by rank*10/300
    val sorted = rows.sortBy(r => (-r._2, r._1))
    val m = sorted.zipWithIndex
      .groupBy { case (_, rk) => rk.toLong * 10L / 300L }
      .map { case (d, g) =>
        d -> ((g.size.toLong, g.count(_._1._3 == 1).toLong)) }
    a.foreach { case (d, n, np, _) =>
      assert(m(d) == ((n, np)), s"decile $d mismatch") }
  }

  test("mergeIntervals: agrees with a driver-side sweep model") {
    val rng = new scala.util.Random(55)
    val rows = (1 to 200).map { i =>
      val s = rng.nextInt(500).toLong
      ("k" + rng.nextInt(5), s, s + 1L + rng.nextInt(40).toLong, i.toLong)
    }
    val got = graft.ops.Intervals
      .mergeIntervals(rows.toDF("k", "s", "e", "id"), Seq("k"), "s", "e", "id")
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // model: per key, sort by (s, e, id), sweep a running max end
    val model = rows.groupBy(_._1).flatMap { case (k, g) =>
      val sorted = g.sortBy(r => (r._2, r._3, r._4))
      val islands = collection.mutable.ListBuffer
        .empty[(Long, Long, Long)] // (start, end, n)
      sorted.foreach { r =>
        if (islands.nonEmpty && r._2 <= islands.last._2)
          islands(islands.size - 1) = (islands.last._1,
            math.max(islands.last._2, r._3), islands.last._3 + 1)
        else islands += ((r._2, r._3, 1L))
      }
      islands.map(i => (k, i._1, i._2, i._3))
    }.toSet
    assert(got == model)
  }

  test("kaplanMeier: invariant under partitioning, survival in [0,1] " +
    "and non-increasing") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(13)
    val rows = (1 to 400).map(_ =>
      (rng.nextInt(30).toLong, rng.nextBoolean()))
    val run = (p: Int) =>
      graft.ops.TimeSeries.kaplanMeier(
        rows.toDF("d", "e").repartition(p), "d", "e")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(4))).sortBy(_._1).toSeq
    val a = run(1)
    assert(a == run(11))
    assert(a.forall(x => x._4 >= 0.0 && x._4 <= 1.0))
    assert(a.sliding(2).forall {
      case Seq(x, y) => y._4 <= x._4 + 1e-12; case _ => true })
    // total at-risk bookkeeping: first row's n_at_risk = all subjects
    assert(a.head._2 == 400L)
  }

  test("woeEncode: IV terms sum to a non-negative information value") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(31)
    val rows = (1 to 500).map { _ =>
      val c = "c" + rng.nextInt(8)
      // category-dependent positive rate → real signal, positive IV
      (c, if (rng.nextInt(10) < (c.hashCode.abs % 7) + 2) 1 else 0)
    }
    val got = graft.ops.Features.woeEncode(
      rows.toDF("c", "y"), "c", col("y") === 1).collect()
    val iv = got.map(r => if (r.isNullAt(5)) 0.0 else r.getDouble(5)).sum
    // exact-share IV is >= 0; Laplace smoothing can dent individual
    // terms, so allow a smoothing-sized tolerance, not an exact bound
    assert(iv >= -0.01, s"total IV must be ~non-negative, got $iv")
    assert(got.length == rows.map(_._1).distinct.length)
  }

  test("rank tests are invariant under strictly monotone value " +
      "transforms (Kruskal-Wallis, Friedman)") {
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(19)
    val rows = List.fill(120)((
      s"g${rng.nextInt(4)}", rng.nextInt(20).toLong,
      (rng.nextInt(9) + 1).toLong))
    val d1 = rows.toDF("g", "v", "u")
    val d2 = rows.map { case (g, v, u) => (g, 3L * v + 11L, u) }
      .toDF("g", "v", "u")
    val kw1 = graft.ops.Profile.kruskalWallis(d1, col("g"), col("v"))
      .collect().head
    val kw2 = graft.ops.Profile.kruskalWallis(d2, col("g"), col("v"))
      .collect().head
    // Ranks see only order: the statistic is bit-identical.
    assert(kw1.getDouble(2) == kw2.getDouble(2))
    assert(kw1.getDouble(3) == kw2.getDouble(3))
    // Friedman additionally shrugs off PER-SUBJECT monotone rescaling
    // (each subject ranks its own treatments).
    def ts(c: org.apache.spark.sql.Column) = Seq(
      (col("g") === "g0", c), (col("g") === "g1", c), (col("g") === "g2", c))
    val f1 = graft.ops.Profile.friedman(
      rows.filter(r => r._1 != "g3").toDF("g", "u", "v")
        .select(col("g"), col("u"), col("v")), col("u"), ts(col("v")))
      .collect().head
    val scaled = rows.filter(r => r._1 != "g3").map { case (g, u, v) =>
      (g, u, v * (u + 1L)) } // positive per-subject scale
    val f2 = graft.ops.Profile.friedman(
      scaled.toDF("g", "u", "v"), col("u"), ts(col("v")))
      .collect().head
    assert(f1.getDouble(2) == f2.getDouble(2))
  }

  test("JoinView: maintained view equals full re-enrichment under a " +
      "random merge/delete sequence") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val rng = new scala.util.Random(23)
    val dir = java.nio.file.Files.createTempDirectory("graft_jvp_").toString
    val t = graft.model.TargetTable("t", s"$dir/base",
      keyCols = Seq("pkey"), versionCol = "ver", tieBreakCols = Seq("seq"),
      buckets = 4, retainVersions = 8)
    val cfg = graft.model.IngestConfig(name = "jv-prop",
      maxWriterPartitions = 2)
    val base = new graft.sink.ParquetTarget(spark, t)
    val dim = (0L until 3L).map(k => (k, s"d$k")).toDF("dk", "dname")
    val enrich = (df: DataFrame) => df
      .withColumn("__dk", col("pkey") % 3)
      .join(broadcast(dim), col("__dk") === col("dk"), "left_outer")
      .drop("__dk", "dk")
    val jv = new graft.sink.JoinView(spark, base, s"$dir/view", enrich, 4)
    var verSeq = 1L
    def batch(n: Int) = {
      verSeq += 1
      List.fill(n)((rng.nextInt(9).toLong, verSeq,
        rng.nextInt(1000).toLong, rng.nextDouble()))
        .distinctBy(_._1)
        .toDF("pkey", "ver", "seq", "metric")
    }
    base.mergeUpsert(batch(6), cfg)
    jv.rebuild(cfg)
    (1 to 4).foreach { i =>
      if (i % 2 == 0 && base.read().get.count() > 2)
        base.mergeHardDelete(batch(2), cfg)
      else base.mergeUpsert(batch(4), cfg)
      jv.refresh(cfg)
      val got = jv.read().get.select("pkey", "ver", "metric", "dname")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getString(3))).sorted.toSeq
      val want = enrich(base.read().get)
        .select("pkey", "ver", "metric", "dname")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getString(3))).sorted.toSeq
      assert(got == want, s"view diverged at step $i")
    }
  }
}
