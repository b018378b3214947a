package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column <-> Expression converters — the
  * supported seam for libraries that add native Catalyst expressions
  * (Spark 4 wraps Columns around ColumnNodes, so plain user code can no
  * longer construct a Column from an Expression directly). */
object GraftSql {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Free the executor blocks behind a `localCheckpoint()`'d Dataset.
    * `Dataset.unpersist` is a no-op for local checkpoints (their blocks
    * hang off the checkpointed RDD, not the CacheManager), so iterative
    * operators that checkpoint per round would otherwise retain
    * O(rounds) copies of their state until the ContextCleaner happens to
    * GC the dropped references. No-op for non-checkpoint plans. Callers
    * must not evaluate `df` again afterwards. */
  def freeLocalCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.logical match {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Materialize `df` to executor-local blocks (exactly what an eager
    * `localCheckpoint()` does) and return its row count — and optionally
    * the count of rows whose boolean `flagCol` is true — from the SAME
    * job. Iterative operators (CC / SCC / k-core / Luby / Borůvka / BFS)
    * previously paid two jobs per round: the eager checkpoint
    * materialization plus a separate `.count()` (or
    * `.where(flag).count()`) convergence probe; at fixpoint scales the
    * driver-side job latency (planning + AQE stage round-trips +
    * scheduling) dominates each round, so the probe job costs as much as
    * the round's real work. This fuses the probe into the
    * materialization: one pass, one job, identical state and counts.
    *
    * Both counts come from ONE `runJob` over the checkpoint-marked RDD
    * (the job that also materializes the blocks), as per-partition
    * (rows, flagged) pairs merged on the driver. A retried or speculative
    * task REPLACES its partition's result rather than adding to it —
    * Spark's result handler fires once per partition index — so the
    * counts are EXACT under task retry and speculation at cluster scale.
    * (An accumulator updated inside the mapPartitions transformation, the
    * previous implementation, could only ever OVER-count on retries; that
    * was convergence-safe for the monotone fixpoints here but not for
    * exact-count call sites like kTruss's `kn == n` test. runJob removes
    * the caveat entirely; CheckpointCountSpec pins both counts.)
    * A NULL flag counts as false.
    *
    * The returned frame is the checkpointed twin of `df` — same rows,
    * same schema, partitioning/ordering metadata preserved via
    * `LogicalRDD.fromDataset` (what `Dataset.localCheckpoint` itself
    * uses) — and must be freed with [[freeLocalCheckpoint]] once the
    * next round's state materializes. */
  def checkpointCount(
      df: Dataset[Row], flagCol: Option[String] = None): (DataFrame, Long, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val flagIdx = flagCol.map(c => ds.schema.fieldIndex(c))
    val internal = ds.queryExecution.toRdd.mapPartitions(_.map(_.copy()))
    internal.localCheckpoint()
    val perPart = spark.sparkContext.runJob(internal,
      (it: Iterator[catalyst.InternalRow]) => {
        var rows = 0L
        var flags = 0L
        flagIdx match {
          case Some(i) => it.foreach { r =>
            rows += 1L
            if (!r.isNullAt(i) && r.getBoolean(i)) flags += 1L
          }
          case None => it.foreach { _ => rows += 1L }
        }
        (rows, flags)
      })
    val total = perPart.iterator.map(_._1).sum
    val flagged = perPart.iterator.map(_._2).sum
    val out = classic.Dataset.ofRows(spark,
      execution.LogicalRDD.fromDataset(internal, ds, isStreaming = false))
    (out, total, flagged)
  }

  /** The schema a parquet scan of `file` reports — what Spark's schema
    * inference returns (the stored Spark schema, or the converted parquet
    * one; every field nullable) — from a footer already read on the
    * driver, without inference's Spark job. */
  def parquetSchema(spark: SparkSession, file: org.apache.hadoop.fs.Path,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): types.StructType = {
    import execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
  }

  /** Register function builders into a live session's FunctionRegistry
    * (the post-construction twin of SparkSessionExtensions.injectFunction). */
  def registerFunctions(
      spark: SparkSession,
      fns: Seq[(catalyst.FunctionIdentifier,
        catalyst.expressions.ExpressionInfo,
        Seq[Expression] => Expression)]): Unit =
    fns.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
