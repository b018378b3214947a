package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.model.{IngestConfig, TargetTable}

/** Secondary equality index over one column of a [[ParquetTarget]] —
  * the database-grade answer to "find rows WHERE value = X" on a table
  * bucketed by primary key (where such a query would otherwise scan
  * every bucket). The index is ITSELF a ParquetTarget:
  *
  *   - keyed (ival, base-key...) so each base row owns exactly one
  *     index row and latest-wins merges apply unchanged;
  *   - BUCKETED ON ival ALONE (`TargetTable.bucketCols`) so an equality
  *     probe on the indexed value opens ONE bucket dir, however large
  *     the index — the covering-index read pattern;
  *   - maintained INCREMENTALLY from the base's change feed
  *     (`readChanges` with update pre-images): deletes and update
  *     pre-images hard-delete their (old-value, key) entries, inserts
  *     and update post-images upsert (new-value, key) — O(changes)
  *     work per sync, never a base rescan.
  *
  * A `_BASE_VERSION` marker records the last synced base version.
  * Crash mid-refresh is safe: the marker only advances after both
  * applies, and replaying the same change feed is idempotent (hard
  * delete of absent keys is a no-op; re-upsert converges latest-wins).
  * The marker must stay within the base's `retainVersions` window for
  * the feed to exist — an over-aged index refuses with a loud error
  * and needs `rebuild`.
  *
  * Skew caveat: bucketing on the value means one hot value = one hot
  * bucket. Size `buckets` for the value's cardinality and expect this
  * index on selective columns (that is what equality indexes are for).
  */
final class ValueIndex(spark: SparkSession, base: ParquetTarget,
    indexedCol: String, path: String, buckets: Int = 16) {

  val table: TargetTable = TargetTable(
    name = s"${base.table.name}_ix_$indexedCol",
    path = path,
    keyCols = "ival" +: base.table.keyCols,
    versionCol = base.table.versionCol,
    tieBreakCols = base.table.tieBreakCols,
    buckets = buckets,
    bucketCols = Seq("ival"))
  private val ix = new ParquetTarget(spark, table)

  private val marker = new BaseVersionMarker(spark, path)

  def syncedBaseVersion: Option[Long] = marker.get

  private def project(df: DataFrame): DataFrame =
    df.select((col(indexedCol).as("ival") +:
      (base.table.keyCols ++ base.table.orderingCols).map(col)): _*)

  /** Full (re)build from the base's current state — the bootstrap, and
    * the recovery path when the sync marker aged out of the base's
    * retention window. One base scan. */
  def rebuild(cfg: IngestConfig): Unit = {
    val v = base.versions().lastOption.getOrElse(
      throw new IllegalStateException(
        s"cannot index ${base.table.name}: no committed version"))
    ix.mergeUpsert(project(base.read().get), cfg)
    marker.set(v)
  }

  /** Incremental sync: apply only the base's change feed since the last
    * synced version. O(changed rows), no base rescan. No-op when
    * already current. */
  def refresh(cfg: IngestConfig): Unit = {
    val cur = base.versions().lastOption.getOrElse(return)
    val from = syncedBaseVersion.getOrElse(throw new IllegalStateException(
      s"index ${table.name} was never built — call rebuild first"))
    if (cur == from) return
    // Materialize the change feed ONCE (two isEmpty probes + two merges
    // read it; the CDC diff join would otherwise recompute each time).
    val feed = base.readChanges(from, cur, updatePreimages = true)
      .getOrElse(throw new IllegalStateException(
        s"base versions $from..$cur no longer retained — the index " +
          s"aged out of ${base.table.name}'s retention window; rebuild"))
      .localCheckpoint()
    try {
      val gone = project(feed.where(
        col("_change_type").isin("delete", "update_preimage")))
      val live = project(feed.where(
        col("_change_type").isin("insert", "update_postimage")))
      if (!gone.isEmpty) ix.mergeHardDelete(gone, cfg)
      if (!live.isEmpty) ix.mergeUpsert(live, cfg)
      marker.set(cur)
    } finally org.apache.spark.sql.GraftSql.freeLocalCheckpoint(feed)
  }

  /** Bring the index up to date: bootstrap on first use, else refresh. */
  private[sink] def sync(cfg: IngestConfig): Unit =
    if (syncedBaseVersion.isEmpty) rebuild(cfg) else refresh(cfg)

  /** Index-accelerated equality lookup: all current base rows whose
    * indexed column equals a value in `vals` (a one-column frame named
    * `ival`). Two bounded reads: ONE index bucket per probed value
    * (the index is bucketed on ival), then the base's key-pruned point
    * fetch for the matching keys. */
  def lookupEq(vals: DataFrame): DataFrame = {
    val hits = ix.lookupByBucketCols(vals.select(col(vals.columns.head)
        .as("ival")))
      .getOrElse(throw new IllegalStateException(
        s"index ${table.name} does not exist — call rebuild first"))
    base.lookup(hits.select(base.table.keyCols.map(col): _*)).get
  }

  /** The index target's own operational surface (stats, versions). */
  def target: ParquetTarget = ix
}

/** A [[MergeSink]] that keeps a [[ValueIndex]] transactionally-adjacent
  * to its base target: every micro-batch merge is followed by an
  * incremental index refresh off the base's change feed, so a streaming
  * ingest ([[graft.engine.UpsertStream]] takes any MergeSink) leaves
  * BOTH the state table and its secondary index current at every
  * committed batch — the composition a CDC consumer would otherwise
  * hand-roll. First merge bootstraps the index (rebuild); later merges
  * pay O(batch changes). Crash between base commit and refresh is the
  * documented ValueIndex replay case: the next refresh covers the gap
  * from the marker, idempotently. */
final class IndexedParquetSink(spark: SparkSession, base: ParquetTarget,
    index: ValueIndex) extends SyncingSink(base, index.sync)
