package graft.engine

import org.apache.spark.sql.SparkSession

import graft.model.{IngestConfig, IngestContract, TargetTable}
import graft.sink.{JdbcDialect, JdbcSink, JdbcTarget}

/** Fluent construction facade mirroring the reference's
  * `QuickStreamBuilder` (quick_stream `src/builder.rs:14-221`, 17 setters).
  *
  * Knob mapping (SURVEY.md §2.2):
  *  - `maxConCount`            → writer partition cap
  *  - `maxRecordsPerCycleBatch`, `bufferSize` → source rate limit
  *  - `introducedLagCycles` × `introducedLagInMillies` → trigger interval
  *  - `connectionCreationThreshold`, `singleDigits`/`tens`/`hundreds`
  *    (per-arity sender pool sizes) → accepted for API familiarity but
  *    intentionally inert: Spark's scheduler owns pool topology (O3, O8–O10)
  *  - missing-field panics (`src/builder.rs:164-178`) → `require` here
  *
  * Unlike the reference, `buildMultiTableDelete` exists (the reference's
  * builder cannot construct its multi-table delete processor — gap at
  * `src/builder.rs:161-222`).
  */
final class QuickStreamBuilder(spark: SparkSession) {
  private var name: String = "graft-ingest"
  private var maxConCount: Option[Int] = None
  private var maxRecordsPerCycleBatch: Option[Long] = None
  private var lagCycles: Int = 1
  private var lagMillis: Long = 10L
  private var checkpointDir: Option[String] = None
  private var printConfiguration: Boolean = false
  private var target: Option[TargetTable] = None
  private var catalog: Map[String, TargetTable] = Map.empty
  private var tableCol: String = IngestContract.TableCol
  private var soft: Boolean = true
  private var jdbcTarget: Option[JdbcTarget] = None
  private var jdbcCatalog: Map[String, JdbcTarget] = Map.empty
  private var jdbcDialect: JdbcDialect = JdbcDialect.Postgres

  def withName(n: String): this.type = { name = n; this }
  def withMaxConCount(n: Int): this.type = { maxConCount = Some(n); this }
  def withBufferSize(n: Long): this.type = { maxRecordsPerCycleBatch = maxRecordsPerCycleBatch.orElse(Some(n)); this }
  def withMaxRecordsPerCycleBatch(n: Long): this.type = { maxRecordsPerCycleBatch = Some(n); this }
  def withIntroducedLagCycles(n: Int): this.type = { lagCycles = n; this }
  def withIntroducedLagInMillies(n: Long): this.type = { lagMillis = n; this }
  /** Inert in Spark: pool growth is the scheduler's job (reference O8). */
  def withConnectionCreationThreshold(@annotation.unused pct: Double): this.type = this
  /** Inert in Spark: per-arity sender pools don't exist (reference O3/§2.3). */
  def withSenderPools(@annotation.unused singleDigits: Int,
      @annotation.unused tens: Int, @annotation.unused hundreds: Int): this.type = this
  def withCheckpointDir(dir: String): this.type = { checkpointDir = Some(dir); this }
  def withPrintConnectionConfiguration(): this.type = { printConfiguration = true; this }
  def withTarget(t: TargetTable): this.type = { target = Some(t); this }
  /** Reference `db_config` + `tls` knobs (`src/builder.rs:14-33`): the
    * database target; TLS options travel in `JdbcTarget.properties`
    * (`sslmode` etc., reference TLS branch `src/upsert.rs:213-244`). */
  def withDbConfig(t: JdbcTarget): this.type = { jdbcTarget = Some(t); this }
  def withDbDialect(d: JdbcDialect): this.type = { jdbcDialect = d; this }
  /** Routing key → database table, the reference's multi-table surface
    * (`MultiTableUpsertQueryHolder`, `src/builder/support.rs:70-106`). */
  def withJdbcCatalog(c: Map[String, JdbcTarget]): this.type = { jdbcCatalog = c; this }
  def withCatalog(c: Map[String, TargetTable]): this.type = { catalog = c; this }
  def withTableColumn(c: String): this.type = { tableCol = c; this }
  def withSoftDelete(s: Boolean): this.type = { soft = s; this }

  private def config: IngestConfig = IngestConfig(
    name = name,
    maxWriterPartitions = maxConCount.getOrElse(
      throw new IllegalArgumentException("max_con_count is None")),
    maxRecordsPerTrigger = maxRecordsPerCycleBatch.getOrElse(
      throw new IllegalArgumentException("max_records_per_cycle_batch is None")),
    lagCycles = lagCycles,
    lagMillis = lagMillis,
    checkpointDir = checkpointDir,
    printConfig = printConfiguration)

  private def requiredTarget: TargetTable = target.getOrElse(
    throw new IllegalArgumentException("target table is None"))
  private def requiredCatalog: Map[String, TargetTable] = {
    require(catalog.nonEmpty, "multi-table catalog is empty")
    catalog
  }

  def buildUpsert(): UpsertStream =
    new UpsertStream(spark, config, requiredTarget)
  def buildDelete(): DeleteStream =
    new DeleteStream(spark, config, requiredTarget, soft)
  /** JDBC processors — the reference's true target. Checkpoint must be
    * explicit (a database target has no storage path to derive one from). */
  // Each JDBC processor gets its OWN checkpoint subdir (mirroring the
  // parquet targets' distinct _ckpt/_del_ckpt suffixes): sharing one
  // location between an upsert and a delete stream would make the second
  // resume from the first's committed offsets and silently skip batches.
  // probe() at build time fails fast on a bad URL/credentials on the
  // DRIVER (mirrors the reference's startup connection check,
  // src/upsert.rs:80-83) instead of at the first micro-batch inside an
  // executor task.
  def buildJdbcUpsert(): UpsertStream = {
    val t = jdbcTarget.getOrElse(
      throw new IllegalArgumentException("db_config is None"))
    val sink = new JdbcSink(t, jdbcDialect)
    sink.probe()
    new UpsertStream(config, sink, s"$requiredCheckpoint/up")
  }
  def buildJdbcDelete(): DeleteStream = {
    val t = jdbcTarget.getOrElse(
      throw new IllegalArgumentException("db_config is None"))
    val sink = new JdbcSink(t, jdbcDialect)
    sink.probe()
    new DeleteStream(config, sink, s"$requiredCheckpoint/del", soft)
  }
  def buildMultiTableUpsert(): MultiTableUpsertStream =
    new MultiTableUpsertStream(spark, config, requiredCatalog, tableCol)
  def buildMultiTableDelete(): MultiTableDeleteStream =
    new MultiTableDeleteStream(spark, config, requiredCatalog, tableCol, soft)
  def buildMultiTableJdbcUpsert(): MultiTableUpsertStream =
    new MultiTableUpsertStream(config, requiredJdbcSinks,
      s"$requiredCheckpoint/multi_up", tableCol)
  def buildMultiTableJdbcDelete(): MultiTableDeleteStream =
    new MultiTableDeleteStream(config, requiredJdbcSinks,
      s"$requiredCheckpoint/multi_del", tableCol, soft)

  /** One sink per distinct database table, so routes aliasing a table
    * share one sink and are applied one after the other. */
  private def requiredJdbcSinks: Map[String, graft.sink.MergeSink] = {
    require(jdbcCatalog.nonEmpty, "multi-table jdbc catalog is empty")
    Streams.shared(jdbcCatalog)(t => (t.url, t.table)) { t =>
      val sink = new JdbcSink(t, jdbcDialect)
      sink.probe() // fail fast per table, driver-side (src/upsert.rs:80-83)
      sink
    }
  }
  private def requiredCheckpoint: String = checkpointDir.getOrElse(
    throw new IllegalArgumentException("checkpoint dir is None"))
}
