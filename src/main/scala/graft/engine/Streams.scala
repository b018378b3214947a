package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType

import graft.model.{IngestConfig, IngestContract, TargetTable}
import graft.sink.{MergeSink, ParquetTarget}

/** The four public processors of the reference, re-expressed as Structured
  * Streaming pipelines (quick_stream entry points: `UpsertQuickStream::run`
  * `src/upsert.rs:77`, `DeleteQuickStream::run` `src/delete.rs:71`,
  * `MultiTableUpsertQuickStream::run` `src/upsert/multi_table_upsert.rs:72`,
  * `MultiTableDeleteQuickStream::run` `src/delete/multi_table_delete.rs:386`).
  *
  * What the reference hand-rolls and Spark owns natively (SURVEY.md §2):
  *  - lag-cycle accumulation (O4)  → micro-batch trigger interval
  *    (`IngestConfig.triggerMillis`, applied as the default trigger here)
  *  - one sender task per table's chunk (O7,O8) → [[Streams.fanOut]]:
  *    one thread per table sink with a non-empty slice, all joined
  *  - sender pool sizing / scaling (O9) → task scheduler + dynamic
  *    allocation
  *  - bounded-channel backpressure (O10) → next trigger waits for
  *    `foreachBatch` to return; `Sources` applies the per-trigger volume
  *    bound (`IngestConfig.maxRecordsPerTrigger`) at the source
  *  - graceful shutdown (O11) → shutdown hook + `query.stop()`, plus
  *    checkpointed restart the reference entirely lacks
  */
object Streams {

  /** Wire a streaming source into a per-batch merge action with the
    * config's trigger applied. ALL processors start through here, so the
    * builder knobs (`withIntroducedLag*` → `triggerMillis`) are live. */
  private[graft] def start(
      source: DataFrame,
      config: IngestConfig,
      defaultCheckpoint: String,
      trigger: Option[Trigger],
      outputMode: Option[String] = None)(
      action: (Dataset[Row], Long) => Unit): StreamingQuery = {
    if (config.printConfig) {
      // Reference: print_connection_configuration / pool-status table
      // (src/upsert.rs:515-549). Here: one structured line at start.
      println(s"[graft:${config.name}] trigger=${config.triggerMillis}ms " +
        s"writers=${config.maxWriterPartitions} " +
        s"rateLimit=${config.maxRecordsPerTrigger}")
    }
    val w = source.writeStream
      .queryName(config.name)
      .option("checkpointLocation", config.checkpointDir.getOrElse(defaultCheckpoint))
      .trigger(trigger.getOrElse(Trigger.ProcessingTime(config.triggerMillis)))
    outputMode.foreach(w.outputMode)
    w.foreachBatch(action).start()
  }

  /** Multi-table fan-out of one micro-batch, the tables applied
    * concurrently (quick_stream gives each table's chunk its own sender
    * task, `src/upsert/multi_table_upsert.rs:387-457`):
    *  - the batch is cached, and ONE job collects the routes it carries;
    *    that job also fills the cache before any slice reads it. Routes
    *    not in the catalog are dropped.
    *  - the cache holds at most (task slots ÷ catalog sinks) partitions.
    *    The sinks scan it at the same time, so a finer split only queues
    *    their tasks, and any other job's, behind one another: on
    *    `hot_keys_fanout` (local[4], 3 sinks) one partition cut a
    *    concurrent reader's lookup p50 by about a third at the same
    *    ingest rate.
    *  - each sink with a non-empty slice gets its own thread, and it is
    *    handed its slice with the routing column dropped. Routes that
    *    share one sink instance share its thread and run in catalog
    *    order: a target takes one writer at a time.
    *  - a thread is started per batch from the batch thread, so it
    *    inherits a copy of that thread's Spark local properties: the
    *    batch id, the query's job group and tags (which `stop()`
    *    cancels) and the SQL execution id. A pooled thread would keep
    *    those of the batch that started it.
    *  - every thread is joined, also when one fails or the batch thread
    *    is interrupted; only then is the cache released and the first
    *    failure rethrown, the others suppressed on it. The replay
    *    re-applies every slice, which latest-wins makes idempotent. */
  private[engine] def fanOut(batch: DataFrame, sinks: Map[String, MergeSink],
      tableCol: String)(apply: (MergeSink, DataFrame) => Unit): Unit = {
    val owners = sinks.values.foldLeft(Vector.empty[MergeSink]) { (acc, s) =>
      if (acc.exists(_ eq s)) acc else acc :+ s
    }
    val slots = batch.sparkSession.sparkContext.defaultParallelism
    val cached = batch.coalesce(math.max(1, slots / owners.size)).persist()
    try {
      val routes = cached.select(col(tableCol).cast("string")).as(Encoders.STRING)
        .mapPartitions(_.toSet.iterator)(Encoders.STRING).collect().toSet
      val work = owners.map(o => o -> sinks.toSeq.collect { case (n, s) if (s eq o) && routes(n) => n })
        .filter(_._2.nonEmpty)
      val failures = new Array[Throwable](work.size)
      val workers = work.zipWithIndex.map { case ((sink, names), i) =>
        val w = new Thread(() =>
          try names.foreach(n => apply(sink, cached.filter(col(tableCol) === n).drop(tableCol)))
          catch { case e: Throwable => failures(i) = e },
          s"graft-fanout-${names.mkString("+")}")
        w.setDaemon(true)
        w.start()
        w
      }
      var interrupted: Option[InterruptedException] = None
      workers.foreach { w =>
        while (w.isAlive)
          try w.join()
          catch { case e: InterruptedException => interrupted = interrupted.orElse(Some(e)) }
      }
      (interrupted.toSeq ++ failures.filter(_ != null)) match {
        case first +: rest => rest.foreach(first.addSuppressed); throw first
        case _ => ()
      }
    } finally { cached.unpersist(); () }
  }

  /** The sinks of a catalog with ONE sink per distinct `id` (a table
    * path, a database table), shared by every route naming it, so
    * [[fanOut]] never runs two writers on one table. */
  private[engine] def shared[T](catalog: Map[String, T])(id: T => Any)(
      make: T => MergeSink): Map[String, MergeSink] = {
    val made = scala.collection.mutable.HashMap.empty[Any, MergeSink]
    catalog.map { case (n, t) => n -> made.getOrElseUpdate(id(t), make(t)) }
  }

  /** Deterministic default checkpoint for a multi-table processor: derived
    * from the lexicographically smallest table name, so it cannot drift
    * with Map iteration order between runs (which would silently abandon
    * stream progress and replay from scratch). */
  private[engine] def multiCheckpoint(
      catalog: Map[String, TargetTable], suffix: String): String =
    catalog(catalog.keys.min).path + suffix
}

/** Source constructors that apply `IngestConfig`'s admission-control knobs
  * to the source — the reference's `max_records_per_cycle_batch` +
  * `buffer_size` backpressure bound (quick_stream `src/upsert.rs:313`,
  * `:433-440`). Spark's file source admits whole files per trigger, so the
  * per-record bound maps to `maxFilesPerTrigger` via a caller-supplied
  * records-per-file hint; a Kafka source would use `maxOffsetsPerTrigger`
  * directly. */
object Sources {

  private def rated(
      spark: SparkSession,
      config: IngestConfig,
      schema: StructType,
      recordsPerFileHint: Long): org.apache.spark.sql.streaming.DataStreamReader = {
    val files = math.max(1L, config.maxRecordsPerTrigger / math.max(1L, recordsPerFileHint))
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", files.toString)
  }

  /** Parquet file stream with the rate limit applied. */
  def parquet(
      spark: SparkSession,
      config: IngestConfig,
      schema: StructType,
      path: String,
      recordsPerFileHint: Long = 100000L): DataFrame =
    rated(spark, config, schema, recordsPerFileHint).parquet(path)

  /** CSV file stream (header assumed) with the rate limit applied. */
  def csv(
      spark: SparkSession,
      config: IngestConfig,
      schema: StructType,
      path: String,
      recordsPerFileHint: Long = 100000L): DataFrame =
    rated(spark, config, schema, recordsPerFileHint)
      .option("header", "true").csv(path)

  /** JSON-lines file stream with the rate limit applied. */
  def json(
      spark: SparkSession,
      config: IngestConfig,
      schema: StructType,
      path: String,
      recordsPerFileHint: Long = 100000L): DataFrame =
    rated(spark, config, schema, recordsPerFileHint).json(path)

  /** JSON-lines stream that ROUTES malformed records instead of dropping
    * or dying on them (the reference logs per-record failures and moves
    * on, `src/upsert.rs:286-294`; silently losing bad rows corrupts
    * ingestion accounting at scale). PERMISSIVE parsing captures each
    * unparseable line verbatim in `quarantineCol`; callers split on
    * `IS NULL` — parsed rows to the merge, quarantined lines to a
    * dead-letter target for replay after a schema fix. Caveat: Spark
    * refuses a query over raw JSON that references ONLY the internal
    * corrupt-record column (AnalysisException), so the dead-letter
    * projection must include at least one data column, or the micro-batch
    * must be cached/persisted before splitting. */
  def jsonWithQuarantine(
      spark: SparkSession,
      config: IngestConfig,
      schema: StructType,
      path: String,
      quarantineCol: String = "_corrupt_record",
      recordsPerFileHint: Long = 100000L): DataFrame =
    rated(spark, config,
      schema.add(quarantineCol, org.apache.spark.sql.types.StringType),
      recordsPerFileHint)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", quarantineCol)
      .json(path)

  /** Kafka source with the per-record admission bound applied DIRECTLY:
    * `maxOffsetsPerTrigger = maxRecordsPerTrigger` (offsets are records,
    * so no per-file hint is needed). This is the closest analog of the
    * reference's bounded mpsc channel (`src/lib.rs:158`,
    * `src/upsert.rs:313`): an unbounded ordered queue the engine drains
    * at most `maxRecordsPerTrigger` per micro-batch, with backpressure
    * for free (the next admission waits for the merge to finish).
    * Requires the spark-sql-kafka connector on the classpath; options
    * (auth, TLS) pass through `extraOptions`.
    *
    * TESTING CAVEAT: this path has never executed end-to-end — the
    * development environment ships no Kafka connector jar and no broker,
    * so coverage is (a) the option mapping asserted here and (b) the
    * broker-free twin [[rateMicroBatch]], which exercises the same
    * direct-offset admission contract per trigger (`SourcesSpec`). Before
    * first production use, run one end-to-end soak against a real broker:
    * verify offsets commit through the checkpoint, admission matches
    * `maxRecordsPerTrigger`, and restart resumes without gaps. */
  def kafka(
      spark: SparkSession,
      config: IngestConfig,
      bootstrapServers: String,
      subscribe: String,
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.readStream.format("kafka")
    kafkaOptions(config, bootstrapServers, subscribe, extraOptions)
      .foreach { case (k, v) => r.option(k, v) }
    r.load()
  }

  /** The exact option map [[kafka]] hands the connector — exposed as a
    * pure function so the contract is assertable WITHOUT a broker or
    * connector jar (`KafkaReadinessSpec`): admission control maps
    * `IngestConfig.maxRecordsPerTrigger` onto `maxOffsetsPerTrigger`
    * verbatim (the [[rateMicroBatch]] twin admits the same bound via
    * `rowsPerBatch`), and caller options (auth/TLS `kafka.ssl.*`,
    * `startingOffsets`, group prefixes) pass through UNLESS they would
    * clobber the three core keys, which the engine owns. */
  def kafkaOptions(
      config: IngestConfig,
      bootstrapServers: String,
      subscribe: String,
      extraOptions: Map[String, String] = Map.empty): Map[String, String] = {
    val core = Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> subscribe,
      "maxOffsetsPerTrigger" -> config.maxRecordsPerTrigger.toString)
    (extraOptions -- core.keySet) ++ core
  }

  /** Built-in offset-based source that admits EXACTLY
    * `maxRecordsPerTrigger` rows per micro-batch — the in-process,
    * deterministic stand-in for [[kafka]]'s `maxOffsetsPerTrigger`
    * (same admission-control contract, testable without a broker).
    * Emits (timestamp, value) rows; value is a monotone Long offset. */
  def rateMicroBatch(spark: SparkSession, config: IngestConfig): DataFrame =
    spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", config.maxRecordsPerTrigger.toString)
      .load()
}

/** What every processor shares: `run` starts `source` through
  * [[Streams.start]] with the processor's config and default checkpoint
  * (the config's trigger unless one is given) and hands each micro-batch
  * to [[applyBatch]]. */
private[engine] abstract class Processor(config: IngestConfig,
    defaultCheckpoint: String) {

  protected def applyBatch(batch: DataFrame): Unit

  def run(source: DataFrame): StreamingQuery = runWith(source, None)
  def run(source: DataFrame, trigger: Trigger): StreamingQuery =
    runWith(source, Some(trigger))

  private def runWith(source: DataFrame, trigger: Option[Trigger]): StreamingQuery =
    Streams.start(source, config, defaultCheckpoint, trigger) {
      (batch: Dataset[Row], _: Long) => applyBatch(batch)
    }
}

/** Single-table latest-wins upsert ingestion (reference §3.1) into any
  * [[MergeSink]] — bucketed parquet by default, a JDBC database for true
  * reference parity (`new UpsertStream(cfg, new JdbcSink(jt), ckpt)`;
  * JDBC sinks have no storage path, so the checkpoint seed is explicit). */
final class UpsertStream(
    config: IngestConfig,
    sink: MergeSink,
    defaultCheckpoint: String) extends Processor(config, defaultCheckpoint) {

  def this(spark: SparkSession, config: IngestConfig, target: TargetTable) =
    this(config, new ParquetTarget(spark, target),
      target.path + "_ckpt")

  protected def applyBatch(batch: DataFrame): Unit = sink.mergeUpsert(batch, config)
}

/** Single-table delete ingestion; `soft = true` flips the tombstone flag
  * (reference §3.2 "data soft deleter"), else rows are removed. Takes any
  * [[MergeSink]] like [[UpsertStream]]. */
final class DeleteStream(
    config: IngestConfig,
    sink: MergeSink,
    defaultCheckpoint: String,
    soft: Boolean) extends Processor(config, defaultCheckpoint) {

  def this(spark: SparkSession, config: IngestConfig, target: TargetTable,
      soft: Boolean = true) =
    this(config, new ParquetTarget(spark, target),
      target.path + "_del_ckpt", soft)

  protected def applyBatch(batch: DataFrame): Unit =
    if (soft) sink.mergeSoftDelete(batch, config)
    else sink.mergeHardDelete(batch, config)
}

/** Merge-on-read DELETE stream: each micro-batch's keys mark positions
  * in the target's deletion-vector sidecar
  * ([[graft.sink.ParquetTarget.deleteVectoredKeys]]) — the
  * zero-rewrite third deletion mode beside [[DeleteStream]]'s soft
  * (tombstone flag) and hard (bucket rewrite) paths: delete throughput
  * is decoupled from row width and bucket size, the right trade when
  * deletes are frequent and reads can absorb a small anti-join until
  * the next compaction materializes the vector. */
final class VectoredDeleteStream(
    config: IngestConfig,
    target: ParquetTarget,
    defaultCheckpoint: String) extends Processor(config, defaultCheckpoint) {

  def this(spark: SparkSession, config: IngestConfig, table: TargetTable) =
    this(config, new ParquetTarget(spark, table),
      table.path + "_vdel_ckpt")

  protected def applyBatch(batch: DataFrame): Unit =
    target.deleteVectoredKeys(batch, config)
}

/** Multi-table fan-out (reference §3.3): records carry a routing column.
  * Each batch is cached once, its routes are found in one Spark job, and
  * every table's slice is upserted concurrently, one thread per sink
  * ([[Streams.fanOut]]): a batch costs about its slowest table plus the
  * routing job, not the sum of its tables. A failing table fails the
  * batch after every other table has finished. Records routed to unknown
  * tables are dropped, mirroring the reference's static `tables()`
  * routing domain. The catalog maps routing keys to ANY [[MergeSink]] —
  * parquet targets or JDBC tables (the reference's
  * MultiTableUpsertQuickStream routes to multiple Postgres tables,
  * `src/upsert/multi_table_upsert.rs:72`); sinks may be mixed. Routes
  * that map to one sink instance are applied one after the other; the
  * `TargetTable` constructor builds one sink per distinct path, so routes
  * aliasing one table never contend for its writer lease. */
final class MultiTableUpsertStream(
    config: IngestConfig,
    sinks: Map[String, MergeSink],
    defaultCheckpoint: String,
    tableCol: String) extends Processor(config, defaultCheckpoint) {
  require(sinks.nonEmpty, "catalog must not be empty")

  def this(spark: SparkSession, config: IngestConfig,
      catalog: Map[String, TargetTable],
      tableCol: String = IngestContract.TableCol) =
    this(config, Streams.shared(catalog)(_.path)(new ParquetTarget(spark, _)),
      Streams.multiCheckpoint(catalog, "_multi_ckpt"), tableCol)

  protected def applyBatch(batch: DataFrame): Unit =
    Streams.fanOut(batch, sinks, tableCol)(_.mergeUpsert(_, config))
}

/** Multi-table delete fan-out. NOTE: the reference has NO public builder
  * for its multi-table delete processor (gap documented in SURVEY.md §2.2,
  * verifiable at quick_stream `src/builder.rs:161-222`); this engine fixes
  * that — `QuickStreamBuilder.buildMultiTableDelete` is first-class.
  * Catalog and fan-out semantics as in [[MultiTableUpsertStream]] (any
  * MergeSink; one routing job, tables deleted from concurrently, one
  * thread per sink, failure after every table has finished, one sink per
  * distinct path). */
final class MultiTableDeleteStream(
    config: IngestConfig,
    sinks: Map[String, MergeSink],
    defaultCheckpoint: String,
    tableCol: String,
    soft: Boolean) extends Processor(config, defaultCheckpoint) {
  require(sinks.nonEmpty, "catalog must not be empty")

  def this(spark: SparkSession, config: IngestConfig,
      catalog: Map[String, TargetTable],
      tableCol: String = IngestContract.TableCol,
      soft: Boolean = true) =
    this(config, Streams.shared(catalog)(_.path)(new ParquetTarget(spark, _)),
      Streams.multiCheckpoint(catalog, "_multi_del_ckpt"), tableCol, soft)

  protected def applyBatch(batch: DataFrame): Unit =
    Streams.fanOut(batch, sinks, tableCol) { (sink, slice) =>
      if (soft) sink.mergeSoftDelete(slice, config)
      else sink.mergeHardDelete(slice, config)
    }
}

/** Queryable per-batch progress metrics — the reference's pool-status
  * printer (`src/upsert.rs:515-549`) upgraded from log lines to a bounded
  * in-memory table: every micro-batch records (query, batchId, input
  * rows, batch duration, rows/sec), oldest entries evicted past
  * `maxBatches`. `snapshot(spark)` exposes it as a DataFrame so
  * operational dashboards query metrics with the same API as data. */
final class MetricsListener(maxBatches: Int = 1000)
    extends StreamingQueryListener {

  private val buf =
    new java.util.concurrent.ConcurrentLinkedDeque[MetricsListener.Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    buf.addLast(MetricsListener.Batch(
      String.valueOf(p.name), p.batchId, p.numInputRows,
      p.durationMs.getOrDefault("triggerExecution", 0L),
      p.processedRowsPerSecond))
    while (buf.size() > maxBatches) buf.pollFirst()
  }

  def snapshot(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    buf.iterator().asScala.toSeq.toDF()
  }
}

object MetricsListener {
  final case class Batch(
      query: String, batchId: Long, numInputRows: Long,
      triggerMillis: Long, processedRowsPerSecond: Double)
}

/** Graceful shutdown + observability (reference O11 `shutdown_service.rs`
  * and the pool-status printer `src/upsert.rs:515-549`). Registers a JVM
  * shutdown hook that stops the query, and a [[MetricsListener]] that
  * records per-batch progress (returned for querying). Restart-exactly-
  * once comes free from checkpointing. */
object GracefulShutdown {
  def install(spark: SparkSession, query: StreamingQuery): MetricsListener = {
    sys.addShutdownHook {
      try query.stop()
      catch { case _: Throwable => () }
    }
    val metrics = new MetricsListener()
    spark.streams.addListener(metrics)
    metrics
  }
}
