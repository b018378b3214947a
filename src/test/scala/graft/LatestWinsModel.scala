package graft

/** Plain-Scala model of a keyed table under latest-wins merges: the
  * reference the merge paths are checked against. A table maps each key
  * to its stored row (ver, seq, payload, row_active); rows order by
  * (ver, seq). */
object LatestWinsModel {

  /** Stored row of one key: (ver, seq, payload, row_active). */
  type Rec = (Long, Long, String, Boolean)
  type State = Map[Long, Rec]

  /** Whether an incoming (ver, seq) is at least as new as the stored row. */
  def supersedes(v: Long, s: Long, r: Rec): Boolean =
    Ordering[(Long, Long)].gteq((v, s), (r._1, r._2))

  /** The newest (ver, seq) row of each key among (pkey, ver, seq, _) rows. */
  def latest[A](xs: Seq[(Long, Long, Long, A)]): Map[Long, (Long, Long, Long, A)] =
    xs.groupBy(_._1).map { case (k, g) => k -> g.maxBy(x => (x._2, x._3)) }

  /** Upsert of (pkey, ver, seq, payload) rows: each key's newest row
    * replaces the stored one unless that is strictly newer, and is active. */
  def upsert(state: State, batch: Seq[(Long, Long, Long, String)]): State =
    latest(batch).foldLeft(state) { case (m, (k, (_, v, s, p))) =>
      if (m.get(k).forall(supersedes(v, s, _))) m + (k -> ((v, s, p, true))) else m
    }

  /** Soft delete: a key's newest (pkey, ver, seq) tombstone at least as
    * new as the stored row turns its flag false. */
  def softDelete(state: State, tombstones: Seq[(Long, Long, Long)]): State =
    newest(tombstones).foldLeft(state) { case (m, (k, (v, s))) =>
      m.get(k).filter(supersedes(v, s, _)).fold(m)(r => m + (k -> r.copy(_4 = false)))
    }

  /** Hard delete: a key's newest tombstone at least as new drops its row. */
  def hardDelete(state: State, tombstones: Seq[(Long, Long, Long)]): State =
    newest(tombstones).foldLeft(state) { case (m, (k, (v, s))) =>
      if (m.get(k).exists(supersedes(v, s, _))) m - k else m
    }

  private def newest(tombstones: Seq[(Long, Long, Long)]): Map[Long, (Long, Long)] =
    latest(tombstones.map { case (k, v, s) => (k, v, s, ()) })
      .map { case (k, (_, v, s, _)) => k -> ((v, s)) }
}
