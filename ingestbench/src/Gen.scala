package ingestbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/** One generated change record. `op` is "U" (upsert) or "D" (soft
  * delete); `route` is the multi-table routing key ("" when unrouted). */
final case class Rec(route: String, key: Long, version: Long, seq: Long,
    payload: String, op: String) {
  def ord: (Long, Long) = (version, seq)
}

/** Seeded input generation shared by all workloads. The seed is the only
  * source of randomness; the program under test sees only the files
  * written here (plus the seed-independent cdc preload). */
object Gen {

  /** Row payload: a pure function of (key, version, seq), so an oracle
    * can recompute it and any torn or mixed-up row is detectable. The
    * cdc preload builds the same string with Spark expressions. */
  def payload(key: Long, version: Long, seq: Long): String =
    s"k${key}v${version}s$seq-" + sha1Hex(key.toString).take(24)

  private val HexDigits = "0123456789abcdef".toCharArray

  def sha1Hex(s: String): String = {
    val d = MessageDigest.getInstance("SHA-1").digest(s.getBytes(StandardCharsets.UTF_8))
    val c = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      c(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      c(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    new String(c)
  }

  /** Zipf(s) over ranks 0..n-1, mapped through a seeded permutation so
    * hot keys land in arbitrary buckets. */
  final class Zipf(n: Int, s: Double, rnd: SplittableRandom) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    private val perm = {
      val a = Array.tabulate(n)(i => i.toLong)
      var i = n - 1
      while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    def next(): Long = {
      val u = rnd.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      perm(lo)
    }
  }

  /** Per-key version clock producing in-order, stale and tied versions. */
  final class Versions(rnd: SplittableRandom, stale: Double, tie: Double) {
    private val cur = mutable.HashMap.empty[Long, (Long, Long)]
    def current(key: Long, base: (Long, Long)): (Long, Long) = cur.getOrElse(key, base)
    def next(key: Long, base: (Long, Long) = (0L, 0L)): (Long, Long) = {
      val (v, s) = current(key, base)
      val u = rnd.nextDouble()
      val o =
        if (u < stale && v > 1) (math.max(1L, v - 1 - rnd.nextInt(3)), rnd.nextInt(4).toLong)
        else if (u < stale + tie && v > 0) (v, rnd.nextInt(4).toLong)
        else (v + 1, rnd.nextInt(4).toLong)
      if (Ordering[(Long, Long)].gt(o, (v, s))) cur(key) = o
      o
    }
  }

  def json(r: Rec, routed: Boolean): String = {
    val b = new StringBuilder(96)
    b.append('{')
    if (routed) b.append("\"table\":\"").append(r.route).append("\",")
    b.append("\"pkey\":").append(r.key)
      .append(",\"modified_date\":").append(r.version)
      .append(",\"seq\":").append(r.seq)
      .append(",\"payload\":\"").append(r.payload).append('"')
    if (!routed) b.append(",\"op\":\"").append(r.op).append('"')
    b.append("}\n").toString
  }

  /** Writes one JSON-lines file; returns its size in bytes. */
  def writeLines(path: Path, lines: Iterator[String]): Long = {
    val bytes = lines.mkString.getBytes(StandardCharsets.UTF_8)
    Files.write(path, bytes)
    bytes.length.toLong
  }

  /** SHA-256 over every regular file under `dir`, in name order. */
  def digest(dir: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        .sortBy(p => dir.relativize(p).toString).foreach { p =>
          md.update(dir.relativize(p).toString.getBytes(StandardCharsets.UTF_8))
          md.update(Files.readAllBytes(p))
        }
    } finally s.close()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** hot_keys_fanout records: Zipf-skewed keys over a small key space per
  * route, with stale (out-of-order) and tied versions; a small share is
  * routed to a table outside the catalog and must be dropped. */
final class HotKeysGen(seed: Long) {
  import HotKeysGen._
  private val rnd = new SplittableRandom(seed)
  private val zipf = Routes.map { case (r, n, _) => r -> new Gen.Zipf(n, ZipfS, rnd.split()) }.toMap
  private val versions = Routes.map { case (r, _, _) => r -> new Gen.Versions(rnd.split(), 0.12, 0.08) }.toMap
  private val cum = Routes.scanLeft(0.0)(_ + _._3).tail

  def record(): Rec = {
    val u = rnd.nextDouble()
    val route = Routes(cum.indexWhere(u < _) match { case -1 => Routes.size - 1; case i => i })._1
    val k = zipf(route).next()
    val (v, s) = versions(route).next(k)
    Rec(route, k, v, s, Gen.payload(k, v, s), "U")
  }

  /** One file of `RecordsPerFile` records. */
  def file(): Vector[Rec] = Vector.fill(RecordsPerFile)(record())
}

object HotKeysGen {
  /** (route, key space, share). `tx` is not in the catalog. */
  val Routes: Seq[(String, Int, Double)] =
    Seq(("ta", 20000, 0.40), ("tb", 20000, 0.40), ("tj", 5000, 0.19), ("tx", 1000, 0.01))
  val ZipfS = 1.1
  val RecordsPerFile = 2500
}

/** cdc_small_batch_reads records: 100-record files of upserts over a
  * preloaded key space (plus a share of brand-new keys); every
  * `DeleteEvery`-th file carries soft deletes whose versions tie, lead or
  * trail the key's current version (the stale-delete guard). */
final class CdcGen(seed: Long, preloadKeys: Long) {
  import CdcGen._
  private val rnd = new SplittableRandom(seed)
  private val versions = new Gen.Versions(rnd.split(), 0.10, 0.08)
  private var nextNewKey = preloadKeys
  private val touched = mutable.ArrayBuffer.empty[Long]
  private var files = 0

  private def upsert(): Rec = {
    val k =
      if (rnd.nextDouble() < NewKeyShare) { nextNewKey += 1; nextNewKey - 1 }
      else rnd.nextLong(preloadKeys)
    val (v, s) = versions.next(k, PreloadOrd)
    touched += k
    Rec("", k, v, s, Gen.payload(k, v, s), "U")
  }

  private def delete(): Rec = {
    val k = touched(rnd.nextInt(touched.size))
    val (v, s) = versions.current(k, PreloadOrd)
    val u = rnd.nextDouble()
    val (dv, ds) =
      if (u < 0.5) (v, s) // tie: applies
      else if (u < 0.75) (v + 1, 0L) // newer: applies
      else (math.max(0L, v - 1), s) // stale: must not apply
    Rec("", k, dv, ds, Gen.payload(k, dv, ds), "D")
  }

  def file(): Vector[Rec] = {
    files += 1
    val ups = Vector.fill(RecordsPerFile)(upsert())
    if (files % DeleteEvery == 0)
      ups.take(RecordsPerFile - DeletesPerFile) ++ Vector.fill(DeletesPerFile)(delete())
    else ups
  }
}

object CdcGen {
  val RecordsPerFile = 100
  val DeleteEvery = 10
  val DeletesPerFile = 20
  val NewKeyShare = 0.1
  val PreloadOrd: (Long, Long) = (1L, 0L)
}

/** corpus_neardup documents: `Bases` base documents drawn from a
  * Zipf-weighted vocabulary; a share of them get near-duplicate variants
  * at known word-substitution rates. Returns (id, text, score) plus the
  * planted clusters (lists of doc ids). */
object CorpusGen {
  val Bases = 1200
  val VariantShare = 0.4
  val EditRates: Seq[Double] = Seq(0.02, 0.05, 0.1, 0.2, 0.3)
  val Vocab = 20000

  final case class Doc(id: Long, text: String, score: Long)

  def word(i: Long): String = "w" + java.lang.Long.toString(i, 36)

  def corpus(seed: Long): (Vector[Doc], Vector[Vector[Long]]) = {
    val rnd = new SplittableRandom(seed)
    val zipf = new Gen.Zipf(Vocab, 0.8, rnd.split())
    val docs = mutable.ArrayBuffer.empty[Doc]
    val clusters = mutable.ArrayBuffer.empty[Vector[Long]]
    def add(words: Array[String]): Long = {
      val id = docs.size.toLong
      docs += Doc(id, words.mkString(" "), rnd.nextInt(1000).toLong)
      id
    }
    (0 until Bases).foreach { _ =>
      val base = Array.fill(30 + rnd.nextInt(71))(word(zipf.next()))
      val ids = mutable.ArrayBuffer(add(base))
      if (rnd.nextDouble() < VariantShare) {
        (0 until 1 + rnd.nextInt(3)).foreach { _ =>
          val e = EditRates(rnd.nextInt(EditRates.size))
          ids += add(base.map(w => if (rnd.nextDouble() < e) word(zipf.next()) else w))
        }
        clusters += ids.toVector
      }
    }
    // Shuffle ids so cluster members are not adjacent in the file.
    val order = docs.indices.toArray
    var i = order.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t; i -= 1 }
    val newId = order.zipWithIndex.map { case (old, nu) => old.toLong -> nu.toLong }.toMap
    val shuffled = docs.map(d => d.copy(id = newId(d.id))).sortBy(_.id).toVector
    (shuffled, clusters.map(_.map(newId)).toVector)
  }

  def json(d: Doc): String =
    s"""{"id":${d.id},"text":"${d.text}","score":${d.score}}""" + "\n"
}
