package graft.sink

import org.apache.spark.sql.DataFrame

import graft.model.IngestConfig

/** The sink seam every processor writes through — the engine-side analog
  * of the reference's `Upsert<T>`/`Delete<T>` traits (quick_stream
  * `src/upsert.rs:19-33`, `src/delete.rs:18-32`): the reference hands the
  * user a `Vec<T>` + prepared statement and lets the impl bind and
  * execute; here the engine hands the sink a micro-batch DataFrame and the
  * sink owns the merge. Implementations: [[ParquetTarget]] (bucketed
  * storage-layer tables) and [[JdbcSink]] (real database targets, the
  * reference's actual destination). */
trait MergeSink {
  /** Latest-wins keyed upsert of one micro-batch. */
  def mergeUpsert(batch: DataFrame, config: IngestConfig): Unit
  /** Tombstone-flag soft delete (reference "data soft deleter"). */
  def mergeSoftDelete(batch: DataFrame, config: IngestConfig): Unit
  /** Physical row removal. */
  def mergeHardDelete(batch: DataFrame, config: IngestConfig): Unit
}

/** A [[MergeSink]] that applies each micro-batch to `base`, then brings a
  * target derived from it up to date with `sync` (see
  * [[IndexedParquetSink]], [[BloomIndexedSink]]), so a streaming ingest
  * leaves the state table AND the derived target current at every
  * committed batch. A crash between the two replays idempotently from the
  * derived target's `_BASE_VERSION` marker. */
private[sink] class SyncingSink(base: MergeSink, sync: IngestConfig => Unit)
    extends MergeSink {
  def mergeUpsert(batch: DataFrame, config: IngestConfig): Unit = {
    base.mergeUpsert(batch, config); sync(config)
  }
  def mergeSoftDelete(batch: DataFrame, config: IngestConfig): Unit = {
    base.mergeSoftDelete(batch, config); sync(config)
  }
  def mergeHardDelete(batch: DataFrame, config: IngestConfig): Unit = {
    base.mergeHardDelete(batch, config); sync(config)
  }
}
