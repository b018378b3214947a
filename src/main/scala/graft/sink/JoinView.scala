package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.model.{IngestConfig, TargetTable}

/** Incrementally-maintained DENORMALIZED VIEW — the join flavor of
  * materialized-view maintenance (`ops/Incremental` is the aggregate
  * flavor): a view target holds base ⋈ dimension rows, and each refresh
  * applies only the base's change feed — insert/update post-images are
  * re-enriched through `enrich` (typically a broadcast dim join) and
  * upserted, deletes hard-delete their view rows. Updates need no
  * separate retirement: the view is keyed like the base, so the
  * re-enriched post-image overwrites its old view row latest-wins. The
  * cost per refresh is O(changed base rows) joined against the (small,
  * broadcast) dimension — never a base rescan, never a full re-join.
  *
  * Same marker/crash contract as [[ValueIndex]]: `_BASE_VERSION`
  * advances only after the applies; replaying a feed is idempotent
  * (latest-wins upsert + hard delete of absent keys). The marker must
  * stay inside the base's `retainVersions` window, else `rebuild`.
  *
  * The DIMENSION is assumed slowly-changing-or-static between refreshes
  * (the usual denormalization contract); a dim change requires `rebuild`
  * (or model the dim itself as a base and maintain per-dim-change —
  * out of scope here, as for every practical MV engine's first tier). */
final class JoinView(spark: SparkSession, base: ParquetTarget,
    viewPath: String, enrich: DataFrame => DataFrame,
    buckets: Int = 16) {

  val table: TargetTable = TargetTable(
    name = s"${base.table.name}_view",
    path = viewPath,
    keyCols = base.table.keyCols,
    versionCol = base.table.versionCol,
    tieBreakCols = base.table.tieBreakCols,
    buckets = buckets)
  private val vt = new ParquetTarget(spark, table)

  private val marker = new BaseVersionMarker(spark, viewPath)

  def syncedBaseVersion: Option[Long] = marker.get

  /** Full build: enrich the base's whole current state. One base scan. */
  def rebuild(cfg: IngestConfig): Unit = {
    val v = base.versions().lastOption.getOrElse(
      throw new IllegalStateException(
        s"cannot build view over ${base.table.name}: no committed version"))
    vt.mergeUpsert(enrich(base.read().get), cfg)
    marker.set(v)
  }

  /** Incremental refresh from the base's change feed since the last
    * sync: O(changed rows) re-enriched and merged. No-op when current. */
  def refresh(cfg: IngestConfig): Unit = {
    val cur = base.versions().lastOption.getOrElse(return)
    val from = syncedBaseVersion.getOrElse(throw new IllegalStateException(
      s"view ${table.name} was never built — call rebuild first"))
    if (cur == from) return
    // Materialize the change feed ONCE: it is read up to four times
    // below (two isEmpty probes + both merges), and the CDC diff join
    // behind readChanges would otherwise recompute for each.
    val feed = base.readChanges(from, cur)
      .getOrElse(throw new IllegalStateException(
        s"base versions $from..$cur no longer retained — the view " +
          s"aged out of ${base.table.name}'s retention window; rebuild"))
      .localCheckpoint()
    try {
      val keyAndOrder = base.table.keyCols ++ base.table.orderingCols
      val gone = feed.where(col("_change_type") === "delete")
        .select(keyAndOrder.map(col): _*)
      val live = enrich(feed
        .where(col("_change_type").isin("insert", "update"))
        .drop("_change_type"))
      if (!gone.isEmpty) vt.mergeHardDelete(gone, cfg)
      if (!live.isEmpty) vt.mergeUpsert(live, cfg)
      marker.set(cur)
    } finally org.apache.spark.sql.GraftSql.freeLocalCheckpoint(feed)
  }

  def read(): Option[DataFrame] = vt.read()
  def target: ParquetTarget = vt
}
