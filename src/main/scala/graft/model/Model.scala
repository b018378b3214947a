package graft.model

/** Column contract every ingestion record must satisfy.
  *
  * Mirrors the reference's `Upsert<T>`/`Delete<T>` trait accessors
  * (quick_stream `src/upsert.rs:19-33`, `src/delete.rs:18-32`): a 64-bit
  * primary key (`pkey() -> i64`), a version timestamp
  * (`modified_date() -> NaiveDateTime`), and — for multi-table processors —
  * a routing key (`table() -> String`,
  * `src/upsert/multi_table_upsert.rs:21-28`).
  *
  * Spark-first restatement: instead of compile-time Rust generics, the
  * contract is a set of required DataFrame columns; payload columns are
  * arbitrary and flow through untouched, exactly as the reference treats
  * the record body as opaque.
  */
object IngestContract {
  val PKeyCol = "pkey"
  val VersionCol = "modified_date"
  val TableCol = "table"
}

/** A mutable merge target — the engine-side replacement for the
  * reference's per-table `INSERT … ON CONFLICT (pk) DO UPDATE` SQL strings
  * (quick_stream `src/builder/support.rs:159-232`). Spark knows the schema,
  * so the merge plan is derived instead of user-authored: the user declares
  * key/version/tie-break columns once per table.
  *
  * @param keyCols      merge identity (reference: `pkey`)
  * @param versionCol   latest-wins ordering column (reference: `modified_date`)
  * @param tieBreakCols extra ordering columns making latest-wins
  *                     deterministic on version ties (the reference resolves
  *                     equal timestamps arbitrarily-but-stably,
  *                     `src/lib.rs:12-16`; we make the tie-break explicit)
  * @param softDeleteCol tombstone flag column used by the soft-delete sink
  *                     (reference: user SQL marks rows, `src/delete.rs:252`)
  * @param buckets      key-hash bucket count of the stored table: a merge
  *                     only reads/rewrites buckets containing batch keys,
  *                     so per-batch I/O is O(batch ∪ affected buckets).
  *                     Size so one bucket ≈ a comfortable task read (at
  *                     100 TB / 1000 executors: thousands of buckets)
  * @param retainVersions how many committed snapshot versions GC keeps
  *                     (>= 1). 1 = only the latest (minimum footprint);
  *                     higher values give in-flight readers a stability
  *                     window (a reader resolved against version N keeps
  *                     its files while N stays within the retention) and
  *                     enable `readVersion` time travel for debugging /
  *                     reprocessing
  */
final case class TargetTable(
    name: String,
    path: String,
    keyCols: Seq[String] = Seq(IngestContract.PKeyCol),
    versionCol: String = IngestContract.VersionCol,
    tieBreakCols: Seq[String] = Nil,
    softDeleteCol: String = "row_active",
    buckets: Int = 16,
    retainVersions: Int = 1,
    bucketCols: Seq[String] = Nil) {
  require(name.nonEmpty, "TargetTable.name must not be empty")
  require(path.nonEmpty, "TargetTable.path must not be empty")
  require(keyCols.nonEmpty, "TargetTable.keyCols must not be empty")
  require(buckets > 0, "TargetTable.buckets must be > 0")
  require(retainVersions >= 1, "TargetTable.retainVersions must be >= 1")
  require(bucketCols.forall(keyCols.contains),
    "TargetTable.bucketCols must be a subset of keyCols — bucketing on a " +
      "non-key column would scatter one key's versions across buckets " +
      "and break latest-wins merge pruning")
  def orderingCols: Seq[String] = versionCol +: tieBreakCols
  /** Columns the bucket hash runs over: `bucketCols` when set (e.g. a
    * value-bucketed secondary index keyed (value, pkey) but hashed on
    * value alone, so equality lookups read ONE bucket), else the full
    * key set (the default — even key spread). */
  def hashCols: Seq[String] = if (bucketCols.nonEmpty) bucketCols else keyCols
}

/** Engine configuration mapping the reference builder's 17 knobs
  * (quick_stream `src/builder.rs:14-33`) onto Structured Streaming's native
  * controls. Tokio-shaped knobs (channel buffers, per-arity sender pools,
  * connection-creation thresholds) have no Spark analog by design — Spark's
  * scheduler + micro-batch admission control replaces the hand-rolled pool
  * (SURVEY.md §2 O8–O10). The parquet target's single-writer lease has
  * no setting either: its token read-back runs on every store without an
  * atomic create-exclusive (see `ParquetTarget.withCommitLock`).
  *
  * @param maxWriterPartitions writer parallelism cap — reference
  *                            `max_con_count` (DB connection cap): a
  *                            commit runs at most this many writer tasks,
  *                            and each bucket it rewrites is written by
  *                            ONE task, as one file
  * @param maxRecordsPerTrigger source rate limit — reference
  *                            `max_records_per_cycle_batch` +
  *                            `buffer_size` backpressure bound
  * @param lagCycles, lagMillis adaptive debounce — reference
  *                            `introduced_lag_cycles` ×
  *                            `introduced_lag_in_millies` (`src/lib.rs:60-64`);
  *                            product = the micro-batch trigger interval
  */
final case class IngestConfig(
    name: String = "graft-ingest",
    maxWriterPartitions: Int = 10,
    maxRecordsPerTrigger: Long = IngestConfig.DefaultRate,
    lagCycles: Int = 1,
    lagMillis: Long = 10L,
    checkpointDir: Option[String] = None,
    printConfig: Boolean = false) {
  require(name.nonEmpty, "name must not be empty")
  require(maxWriterPartitions > 0, "maxWriterPartitions must be > 0")
  require(maxRecordsPerTrigger > 0, "maxRecordsPerTrigger must be > 0")
  require(lagCycles > 0, "lagCycles must be > 0")
  require(lagMillis >= 0, "lagMillis must be >= 0")

  /** Trigger interval = debounce budget, like the reference's lag-cycle
    * accumulation loop (`src/upsert.rs:143-207`). */
  def triggerMillis: Long = lagCycles * lagMillis
}

object IngestConfig {
  /** Default source admission rate (reference
    * `max_records_per_cycle_batch`). */
  val DefaultRate: Long = 10000L
}
