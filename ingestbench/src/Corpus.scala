package ingestbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.ops.NearDup

/** corpus_neardup — batch, closed loop. Each pass runs the near-dup
  * pipeline over the whole seeded corpus: publish the LSH band index,
  * count LSH candidates, verify them by exact bigram Jaccard, and pick
  * one representative per duplicate cluster (connected components). A
  * reader thread probes the last published index with exact copies of
  * corpus documents throughout. */
final class Corpus(ctx: Ctx) extends Workload {
  import Corpus._

  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val (docs, clusters) = CorpusGen.corpus(ctx.seed)
  private val input = ctx.dir("input").resolve("corpus.json")
  private val outDir = ctx.dir("out")
  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("text", StringType), StructField("score", LongType)))
  private var inputBytes = 0L
  private val warmInput = ctx.dir("input").resolve("warmup.json")
  private def read(p: java.nio.file.Path): DataFrame = spark.read.schema(schema).json(p.toString)

  private final case class Pass(n: Int, ms: Double, candidates: Long, dir: java.nio.file.Path)
  private val passes = mutable.ArrayBuffer.empty[Pass]
  /** The last published index and how many docs (ids 0 until n) it holds. */
  @volatile private var latestIndex: Option[(String, Int)] = None
  private var lastPairs: DataFrame = _
  private var t0, t1 = 0.0
  private var passFailures = 0L
  private val problems = mutable.ArrayBuffer.empty[String]

  private val probeRnd = new SplittableRandom(ctx.seed ^ 0x632be59bd9b4e019L)
  private val reader = new Reader(tracer, "probe")(i => {
    val (index, indexed) = latestIndex.get
    val src = Seq.fill(ProbeDocs)(docs(probeRnd.nextInt(indexed)))
    val q = src.zipWithIndex.map { case (d, j) => (ProbeIdBase + i * ProbeDocs + j, d.text) }
    val idx = spark.read.parquet(index)
    val hits = NearDup.lshProbeIndex(spark.createDataFrame(q).toDF("id", "text"),
      "id", "text", idx, M, N, R).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.zip(src).find { case ((qid, _), d) => !hits((qid, d.id)) }.foreach { case ((qid, _), d) =>
      problems.synchronized(problems += s"probe $qid (exact copy of doc ${d.id}) did not find it")
    }
  })

  private def pass(n: Int, src: java.nio.file.Path = input, nDocs: Int = docs.size): Pass = {
    val dir = outDir.resolve(s"pass$n")
    val t = n.toString
    val st = tracer.now()
    val cands = tracer.span("pass", t) {
      val d = read(src)
      if (ctx.traced) tracer.span("neardup.signature", t)(
        NearDup.minhashSignatures(d, "id", "text", M, N).write.format("noop").mode("overwrite").save())
      tracer.span("neardup.index", t)(
        NearDup.lshBandIndex(d, "id", "text", M, N, R).write.parquet(dir.resolve("index").toString))
      val c = tracer.span("neardup.candidates", t)(NearDup.lshCandidatePairs(d, "id", "text", M, N, R).count())
      val pairs = tracer.span("neardup.verify", t)(
        NearDup.ngramJaccardVerify(d, "id", "text", M, N, R, minJaccard = Threshold).localCheckpoint())
      tracer.span("components.reps", t)(
        NearDup.clusterRepresentatives(d, "id", "score", pairs).write.parquet(dir.resolve("keep").toString))
      lastPairs = pairs
      c
    }
    latestIndex = Some((dir.resolve("index").toString, nDocs))
    Pass(n, tracer.now() - st, cands, dir)
  }

  override def setup(): Unit = {
    inputBytes = Gen.writeLines(input, docs.iterator.map(CorpusGen.json))
    // JIT warm-up on a slice of the corpus; it also publishes the first
    // index for the reader.
    Gen.writeLines(warmInput, docs.iterator.take(WarmupDocs).map(CorpusGen.json))
    pass(0, warmInput, WarmupDocs)
    reader.start()
  }

  override def run(seconds: Int): Unit = {
    t0 = tracer.now()
    ctx.sparkTrace.foreach(_.resetCounters())
    reader.reset()
    var spent = 0.0
    var n = 1
    while (spent < seconds * 1000.0 && passFailures == 0) {
      try { val p = pass(n); passes += p; spent += p.ms }
      catch { case e: Exception => passFailures += 1; problems += s"pass $n failed: $e" }
      n += 1
    }
    t1 = tracer.now()
    reader.halt()
  }

  private lazy val emitted: Seq[(Long, Long, Double)] =
    lastPairs.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
  private lazy val grams: Map[Long, Set[String]] =
    docs.map(d => d.id -> Oracle.bigrams(d.text)).toMap
  private lazy val hashedGrams: Map[Long, Set[Long]] =
    docs.map(d => d.id -> Oracle.bigramHashes(d.text)).toMap
  private lazy val planted: Seq[(Long, Long)] = clusters.flatMap(c =>
    c.combinations(2).map(p => (p.min, p.max)))
    .filter { case (a, b) => Oracle.jaccard(grams(a), grams(b)) >= Threshold }

  override def verify(): Seq[String] = {
    if (passes.isEmpty) return problems.toSeq :+ "no pass completed"
    // Precision 1.0: every emitted pair's exact Jaccard over its distinct
    // word bigrams, recomputed here, reaches the threshold.
    emitted.filter { case (a, b, _) => a >= b || Oracle.jaccard(grams(a), grams(b)) < Threshold }
      .take(3).foreach { case p @ (a, b, _) =>
        problems += s"emitted pair $p has exact bigram Jaccard ${Oracle.jaccard(grams(a), grams(b))} " +
          s"< $Threshold (precision < 1)"
      }
    // The reported score must also equal the verifier's documented
    // quantity, Jaccard over hashed bigrams.
    emitted.find { case (a, b, j) =>
      math.abs(Oracle.jaccardOf(hashedGrams(a), hashedGrams(b)) - j) > 1e-12
    }.foreach(p => problems += s"emitted pair $p reports a score other than its hashed-bigram " +
      s"Jaccard ${Oracle.jaccardOf(hashedGrams(p._1), hashedGrams(p._2))}")
    if (passes.map(_.candidates).distinct.size > 1)
      problems += s"candidate counts differ between passes: ${passes.map(_.candidates)}"
    val canon = Oracle.components(docs.map(_.id), emitted.map(p => (p._1, p._2)))
    val byId = docs.map(d => d.id -> d).toMap
    val rep = canon.groupBy(_._2).map { case (c, members) =>
      c -> members.keys.maxBy(id => (byId(id).score, -id))
    }
    val keep = spark.read.parquet(passes.last.dir.resolve("keep").toString)
      .select("id", "canon_id", "rep_id", "keep").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    if (keep.size != docs.size) problems += s"keep-list has ${keep.size} rows for ${docs.size} docs"
    docs.iterator.map(_.id).find { id =>
      val c = canon(id)
      !keep.get(id).contains((c, rep(c), rep(c) == id))
    }.foreach(id => problems += s"doc $id: keep-list ${keep.get(id)} != reference " +
      s"(${canon(id)}, ${rep(canon(id))})")
    if (reader.failed > 0) System.err.println(s"[ingestbench] probes failed: ${reader.firstError}")
    problems.toSeq
  }

  private def timedMs = passes.map(_.ms).sum

  override def endToEnd: Map[String, Double] = {
    // One sample per pass: every document of a pass becomes available at
    // the pass start and its result is published at the pass end.
    val fresh = passes.toSeq.map(_.ms)
    val written = passes.map(p => Proc.treeBytes(p.dir)).sum.toDouble
    Map(
      "records_per_s" -> docs.size * passes.size * 1000.0 / timedMs,
      "freshness_p50_ms" -> Main.p50(fresh),
      // Two to four passes a run: no percentile has ten samples beyond
      // it, so the tail is the slowest pass.
      "freshness_tail_ms" -> fresh.max,
      "lookup_p50_ms" -> Main.p50(reader.samples),
      "lookup_tail_ms" -> Main.tail(reader.samples, "lookup"),
      "write_amp" -> written / (inputBytes.toDouble * passes.size))
  }

  override def perLayer: Map[String, Double] = {
    val common = TraceSummary.common(ctx, TraceSummary.Inputs(t0, t1, 0, 0, 0))
    val spans = tracer.all.filter(s => s.start >= t0 && s.start <= t1)
    def stageMs(name: String) = Stats.mean(spans.filter(_.name == name).map(_.ms))
    val reps = spans.filter(_.name == "components.reps").map(_.id).toSet
    val cands = passes.last.candidates.toDouble
    val found = emitted.map(p => (p._1, p._2)).toSet
    common ++ Map(
      "neardup.passes" -> passes.size.toDouble,
      "neardup.signature_ms" -> stageMs("neardup.signature"),
      "neardup.candidates" -> cands,
      "neardup.candidate_ms" -> stageMs("neardup.candidates"),
      "neardup.verify_ms" -> stageMs("neardup.verify"),
      "neardup.verified_ratio" -> (if (cands == 0) 0.0 else emitted.size / cands),
      "neardup.recall" -> (if (planted.isEmpty) 1.0 else planted.count(found).toDouble / planted.size),
      // Share of emitted pairs whose exact (unhashed) bigram Jaccard
      // reaches the threshold; below 1 fails the run.
      "neardup.precision_exact" -> (if (emitted.isEmpty) 1.0 else
        emitted.count { case (a, b, _) => Oracle.jaccard(grams(a), grams(b)) >= Threshold }.toDouble / emitted.size),
      "neardup.probe_ms" -> Stats.mean(reader.samples),
      "components.ms" -> stageMs("components.reps"),
      "components.jobs" -> spans.count(s => s.name == "job" && reps(s.parent)).toDouble / passes.size,
      "run.failed_frac" -> failed.toDouble / attempted,
      "run.freshness_samples" -> passes.size.toDouble,
      "run.lookup_samples" -> reader.samples.size.toDouble)
  }

  override def attempted: Long = passes.size + passFailures + reader.attempted
  override def failed: Long = passFailures + reader.failed
}

object Corpus {
  /** MinHash signature size, shingle width, rows per LSH band. */
  val M = 24
  val N = 2
  val R = 2
  val Threshold = 0.5
  val WarmupDocs = 300
  val ProbeDocs = 4
  val ProbeIdBase = 1000000000L
}
