package ingestbench

import scala.collection.mutable

/** A row of a merge target as the oracle and the read-back both see it. */
final case class TRow(key: Long, version: Long, seq: Long, payload: String,
    active: Boolean)

/** Plain-Scala latest-wins reference, independent of Spark and of the
  * engine's merge code. Applies one micro-batch at a time, exactly as
  * documented for the sinks:
  *  - per key the record with the greatest (version, seq) wins;
  *  - on an exact ordering tie the incoming record wins (and so
  *    re-activates a soft-deleted row);
  *  - a soft delete flips the flag only when its (version, seq) is at
  *    least the stored row's (a stale delete never kills a newer row);
  *  - within one batch upserts apply before deletes. */
final class LatestWins {
  val rows = mutable.HashMap.empty[Long, TRow]
  private val ordering = Ordering[(Long, Long)]

  def preload(r: TRow): Unit = rows(r.key) = r

  def applyBatch(recs: Iterable[Rec]): Unit = {
    val (ups, dels) = recs.partition(_.op == "U")
    ups.groupBy(_.key).foreach { case (k, rs) =>
      val w = rs.maxBy(_.ord)
      rows.get(k) match {
        case Some(t) if ordering.gt((t.version, t.seq), w.ord) => ()
        case _ => rows(k) = TRow(k, w.version, w.seq, w.payload, active = true)
      }
    }
    dels.groupBy(_.key).foreach { case (k, rs) =>
      val d = rs.maxBy(_.ord)
      rows.get(k).foreach { t =>
        if (ordering.gteq(d.ord, (t.version, t.seq))) rows(k) = t.copy(active = false)
      }
    }
  }
}

object Oracle {

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rowHash(r: TRow): Long = {
    val p = scala.util.hashing.MurmurHash3.stringHash(r.payload)
    val q = scala.util.hashing.MurmurHash3.stringHash(r.payload, 0x3c6ef372)
    mix(mix(mix(r.key) ^ r.version) ^ (r.seq * 31 + (if (r.active) 1 else 0))) ^
      mix((p.toLong << 32) | (q.toLong & 0xffffffffL))
  }

  /** Order-insensitive digest: (row count, wrapping sum of row hashes). */
  def digest(rows: Iterable[TRow]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, s), r) => (n + 1, s + rowHash(r)) }

  /** Compare an engine read-back against the reference; Right(()) on an
    * exact match, else Left with the first few differing keys. */
  def compare(name: String, expected: Iterable[TRow],
      actual: Seq[TRow]): Either[String, Unit] = {
    val (en, es) = digest(expected)
    val (an, as) = digest(actual)
    if (en == an && es == as && actual.map(_.key).distinct.size == actual.size)
      Right(())
    else {
      val exp = expected.map(r => r.key -> r).toMap
      val act = actual.groupBy(_.key)
      val bad = (exp.keySet ++ act.keySet).toSeq.sorted.iterator.filter { k =>
        act.get(k) match {
          case Some(Seq(a)) => !exp.get(k).contains(a)
          case _ => true
        }
      }.take(5).map(k => s"key $k expected ${exp.get(k)} got ${act.getOrElse(k, Nil)}")
      Left(s"$name: digest mismatch (rows expected $en, got $an): ${bad.mkString("; ")}")
    }
  }

  /** The engine's documented shingle hashing (graft.functions.TextHash,
    * re-implemented here): token hash = fold (h * 31 + code point) mod P
    * from 7; bigram hash = fold (h * 31 + token hash) mod P from 7.
    * `ngramJaccardVerify` scores Jaccard over these hashes, so this is
    * the quantity its output must equal. */
  private val P = 1000000007L
  def tokenHash(w: String): Long =
    w.codePoints().toArray.foldLeft(7L)((h, c) => (h * 31L + c) % P)
  def bigramHashes(text: String): Set[Long] = {
    val w = text.split(" ").filter(_.nonEmpty).map(tokenHash)
    w.indices.dropRight(1).map(i => ((7L * 31L + w(i)) % P * 31L + w(i + 1)) % P).toSet
  }

  def jaccardOf[A](a: Set[A], b: Set[A]): Double = {
    val u = (a | b).size
    if (u == 0) 0.0 else (a & b).size.toDouble / u
  }

  /** Distinct word bigrams of whitespace-tokenized text. */
  def bigrams(text: String): Set[String] = {
    val w = text.split(" ").filter(_.nonEmpty)
    w.indices.dropRight(1).map(i => w(i) + " " + w(i + 1)).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = jaccardOf(a, b)

  /** Union-find components over `pairs`; every id in `ids` labelled with
    * the minimum id of its component (singletons label themselves). */
  def components(ids: Iterable[Long], pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var y = x
      while (y != r) { val nx = parent.getOrElse(y, y); parent(y) = r; y = nx }
      r
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    ids.map(i => i -> find(i)).toMap
  }
}
