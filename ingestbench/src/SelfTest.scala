package ingestbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Self-tests of the benchmark's own maths and generator, no Spark:
  * `python3 ingestbench/run.py --selftest`. */
object SelfTest {

  private val failures = mutable.ArrayBuffer.empty[String]
  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += name
  }

  def run(): Int = {
    val tmp = Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "selftest")
    try {
      percentiles()
      sourceLogAndFreshness(tmp.resolve("log"))
      writeAmp(tmp.resolve("amp"))
      oracle()
      generatorDigest(tmp.resolve("gen"))
      benchmarkJson()
    } finally Proc.deleteTree(tmp)
    println(s"[selftest] ${failures.size} failed")
    if (failures.isEmpty) 0 else 1
  }

  private def percentiles(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("nearest-rank percentile")(Stats.percentile(xs, 90) == 90.0 &&
      Stats.percentile(xs, 50) == 50.0 && Stats.percentile(Seq(3.0), 99) == 3.0)
    check("median averages the two middle samples of an even count")(
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 && Stats.median(Seq(7.0, 1.0, 5.0)) == 5.0)
    val cands = Stats.TailCandidates
    check("tail rule picks the highest percentile with >= 10 beyond")(
      Stats.tailPercentile(100, cands).contains(90.0) &&
        Stats.tailPercentile(1000, cands).contains(99.0) &&
        Stats.tailPercentile(40, cands).contains(75.0) &&
        Stats.tailPercentile(39, cands).contains(60.0) &&
        Stats.tailPercentile(24, cands).contains(50.0) &&
        Stats.tailPercentile(15, cands).isEmpty)
    check("the fixed tail percentile needs 25 independent samples")(
      Stats.beyond(25, Stats.TailPct) == 10 && Stats.beyond(24, Stats.TailPct) < 10)
  }

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8)); ()
  }

  private def sourceLogAndFreshness(dir: Path): Unit = {
    def e(f: String, b: Int) = s"""{"path":"file:///ck/src/$f","timestamp":1700000000000,"batchId":$b}"""
    write(dir.resolve("0"), "v1\n" + e("a.json", 0))
    write(dir.resolve("1"), "v1\n" + e("b.json", 1) + "\n" + e("c.json", 1))
    write(dir.resolve("2.compact"), "v1\n" + Seq(e("a.json", 0), e("b.json", 1),
      e("c.json", 1), e("d.json", 2)).mkString("\n"))
    write(dir.resolve("3"), "v1\n" + e("e.json", 3))
    write(dir.resolve(".3.crc"), "junk")
    val fb = SourceLog.fileBatches(dir.toFile)
    check("source log maps files to batches, compacted and plain")(
      fb == Map("a.json" -> 0L, "b.json" -> 1L, "c.json" -> 1L, "d.json" -> 2L, "e.json" -> 3L))
    val due = Map("a.json" -> 0.0, "b.json" -> 100.0, "c.json" -> 200.0, "d.json" -> 300.0)
    val done = Map(0L -> 50.0, 1L -> 400.0, 2L -> 500.0)
    check("freshness = batch sink return - scheduled release")(
      Freshness.perFile(due, fb, done) ==
        Right(Map("a.json" -> 50.0, "b.json" -> 300.0, "c.json" -> 200.0, "d.json" -> 200.0)))
    check("freshness fails on a released file that never committed")(
      Freshness.perFile(due + ("z.json" -> 1.0), fb, done).isLeft &&
        Freshness.perFile(due + ("e.json" -> 1.0), fb, done).isLeft)
    val rel = (0 until 100).map(_ * 100.0)
    // A steady backlog reads within one file of 0 (grid vs release aliasing).
    check("backlog growth: steady backlog reads ~0, stalled sink grows")(
      math.abs(Freshness.backlogGrowth(rel, rel.map(_ + 250.0), 0, 9900)) <= 1.0 &&
        Freshness.backlogGrowth(rel, Nil, 0, 9900) > 60)
  }

  private def writeAmp(dir: Path): Unit = {
    val t = dir.resolve("t")
    write(t.resolve("_LATEST"), "m0000000001")
    write(t.resolve("d0000000001/__graft_bucket=0/part-0.parquet"), "x" * 100)
    val w = new DirWatcher(Seq(t))
    w.baseline()
    write(t.resolve("d0000000002/__graft_bucket=3/part-0.parquet"), "y" * 200)
    write(t.resolve("d0000000002/__graft_bucket=5/part-0.parquet"), "y" * 300)
    write(t.resolve("d0000000002/_temporary/0/part-9.parquet"), "z" * 1000)
    write(t.resolve("m0000000002"), "#buckets=8\n3\td0000000002/__graft_bucket=3")
    write(t.resolve("m0000000002.tmp"), "partial")
    w.poll()
    write(t.resolve("_LATEST"), "m0000000002")
    Files.setLastModifiedTime(t.resolve("_LATEST"),
      java.nio.file.attribute.FileTime.fromMillis(1000000L))
    w.poll()
    Files.delete(t.resolve("d0000000002/__graft_bucket=5/part-0.parquet"))
    w.poll()
    val manifest = "#buckets=8\n3\td0000000002/__graft_bucket=3".length
    check("write_amp counts new and rewritten files once, skips scratch paths")(
      w.newBytes == 200 + 300 + manifest + 11 && w.newFiles == 4)
    check("bucket touch ratio = rewritten bucket dirs / (commits x buckets)")(
      w.bucketTouchRatio(8) == 2.0 / 8)
  }

  private def oracle(): Unit = {
    val o = new LatestWins
    def u(k: Long, v: Long, s: Long) = Rec("", k, v, s, Gen.payload(k, v, s), "U")
    def d(k: Long, v: Long, s: Long) = Rec("", k, v, s, "", "D")
    o.preload(TRow(1, 5, 0, Gen.payload(1, 5, 0), active = true))
    o.applyBatch(Seq(u(1, 5, 1), u(1, 5, 0), u(2, 3, 0), u(2, 2, 9)))
    check("oracle: tie-break column decides equal versions")(
      o.rows(1).seq == 1 && o.rows(2).version == 3)
    o.applyBatch(Seq(d(1, 5, 0), d(2, 3, 0)))
    check("oracle: stale delete is ignored, tied delete applies")(
      o.rows(1).active && !o.rows(2).active)
    o.applyBatch(Seq(u(2, 3, 0)))
    check("oracle: incoming wins an exact ordering tie (re-activates)")(o.rows(2).active)
    o.applyBatch(Seq(u(2, 4, 0), d(2, 4, 0)))
    check("oracle: upserts apply before deletes within a batch")(
      !o.rows(2).active && o.rows(2).version == 4)
    check("oracle digest is order-insensitive and content-sensitive")(
      Oracle.digest(o.rows.values) == Oracle.digest(o.rows.values.toSeq.reverse) &&
        Oracle.digest(o.rows.values) != Oracle.digest(o.rows.values.map(r => r.copy(active = !r.active))))
    check("components label every vertex with its component minimum")(
      Oracle.components(Seq(1L, 2L, 3L, 4L, 5L), Seq((4L, 2L), (2L, 5L))) ==
        Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 2L))
  }

  /** BENCHMARK.json (at the repository root, next to this directory)
    * must list exactly the metrics the runs print, in the same order. */
  private def benchmarkJson(): Unit = {
    val here = java.nio.file.Paths.get(sys.props.getOrElse("ingestbench.home", "ingestbench"))
    val text = new String(Files.readAllBytes(here.toAbsolutePath.getParent.resolve("BENCHMARK.json")),
      StandardCharsets.UTF_8)
    def names(key: String): Seq[String] = {
      val from = text.indexOf("\"" + key + "\"")
      val block = text.substring(from, text.indexOf("]", from))
      "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(block).map(_.group(1)).toSeq
    }
    check("BENCHMARK.json end_to_end = metrics printed untraced")(
      names("end_to_end") == Main.EndToEnd.map(_._1))
    check("BENCHMARK.json per_layer = metrics printed traced")(
      names("per_layer") == TraceSummary.PerLayer.map(_._1))
    check("BENCHMARK.json workloads are runnable")(
      names("workloads").forall(Main.Workloads.contains))
  }

  private def stageAll(seed: Long, dir: Path): String = {
    Files.createDirectories(dir)
    val hk = new HotKeysGen(seed)
    (0 until 2).foreach(i => Gen.writeLines(dir.resolve(s"h$i.json"),
      hk.file().iterator.map(Gen.json(_, routed = true))))
    val cdc = new CdcGen(seed, 1000)
    (0 until 12).foreach(i => Gen.writeLines(dir.resolve(f"c$i%02d.json"),
      cdc.file().iterator.map(Gen.json(_, routed = false))))
    Gen.writeLines(dir.resolve("corpus.json"),
      CorpusGen.corpus(seed)._1.iterator.take(500).map(CorpusGen.json))
    Gen.digest(dir)
  }

  private def generatorDigest(dir: Path): Unit = {
    val a = stageAll(7, dir.resolve("a"))
    val b = stageAll(7, dir.resolve("b"))
    val c = stageAll(8, dir.resolve("c"))
    check("same seed stages identical bytes")(a == b)
    check("different seed stages different bytes")(a != c)
  }
}
