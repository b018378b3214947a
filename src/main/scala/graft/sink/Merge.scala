package graft.sink

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructType}

import graft.model.TargetTable

/** Keyed MERGE — the Spark-native replacement for the reference's
  * prepared `INSERT … ON CONFLICT (pk) DO UPDATE` statements
  * (quick_stream `src/upsert.rs:24-29`, canonical SQL
  * `src/upsert/multi_table_upsert.rs:651`) and its soft-delete twin
  * (`src/delete.rs:23-28`).
  *
  * Semantics (deterministic, unlike the reference's arrival-order races):
  *  - upsert: for each key, the row with the greatest
  *    `(versionCol, tieBreakCols...)` wins; on an exact ordering tie the
  *    INCOMING row wins, matching `ON CONFLICT DO UPDATE` (the update fires
  *    even when the incoming version equals the stored one).
  *  - delete: a delete tombstone applies iff its ordering tuple is >= the
  *    target row's (an out-of-order stale delete must not kill a newer
  *    update — the reference has no such guard because it relies on
  *    single-writer arrival order, which doesn't exist on a cluster).
  *
  * One fold encodes these rules ([[fold]]): the stored row and the newest
  * incoming row of each key meet in one aggregate. It has two entries that
  * differ only in what the aggregate groups by besides the keys:
  * [[rewrite]], the bucketed kernel every `ParquetTarget` merge runs,
  * groups the touched buckets' rows by writer task and bucket; [[mergeFrame]]
  * applies a change to a whole target frame and groups by the keys alone.
  */
object Merge {

  /** Conform `updates` to the target's column set. Target columns absent
    * from the batch are filled from `defaults` (e.g. a soft-delete flag
    * added to the target after the stream started → incoming rows default
    * to active) or typed NULL — EXCEPT the merge-contract columns
    * (`requiredCols`: keys + ordering), which must be present: NULL-filled
    * keys or versions would make the latest-wins comparisons silently
    * drop/keep arbitrary rows. Batch columns absent from the target are a
    * schema-contract violation and fail loud. */
  private def conform(
      target: StructType,
      updates: DataFrame,
      defaults: Map[String, Column],
      requiredCols: Seq[String]): DataFrame = {
    val extra = updates.columns.toSeq.diff(target.fieldNames.toSeq)
    require(extra.isEmpty,
      s"update batch has columns absent from the target table: " +
        s"${extra.mkString(", ")} — targets never widen implicitly; " +
        s"migrate the target schema first")
    val missing = requiredCols.diff(updates.columns.toSeq)
    require(missing.isEmpty,
      s"update batch is missing merge-contract columns: " +
        s"${missing.mkString(", ")} — key/version/tie-break columns can " +
        s"never be defaulted")
    val tTypes = target.map(f => f.name -> f.dataType).toMap
    val have = updates.columns.toSet
    target.fieldNames.toSeq.foldLeft(updates) { (df, c) =>
      if (have(c)) df
      else df.withColumn(c,
        defaults.getOrElse(c, lit(null)).cast(tTypes(c)))
    }
  }

  /** What a keyed merge does to the stored row of each batch key. */
  private[graft] sealed trait Change
  private[graft] object Change {
    /** Latest wins; the incoming row wins an exact ordering tie. */
    case object Upsert extends Change
    /** A tombstone at least as new turns `softDeleteCol` false; first
      * use adds the column (true) to every stored row. */
    case object SoftDelete extends Change
    /** A tombstone at least as new drops the stored row. */
    case object HardDelete extends Change
  }

  private[graft] val BucketCol = "__graft_bucket"
  /** Writer-task key of a placed row ([[place]]); never written. */
  private[sink] val TaskCol = "__graft_task"
  private val SideCol = "__graft_side"

  /** Bucket of each row: Murmur3 `hash` over the table's hash columns,
    * mod the bucket count — one expression for the read and write side. */
  private[graft] def bucketOf(table: TargetTable, df: DataFrame): Column =
    pmod(hash(table.hashCols.map(df.col): _*), lit(table.buckets))

  /** Distinct values of int column `c` in ONE job and no shuffle: each
    * task reduces its partition to a set and the driver unions them, so
    * the driver receives at most (distinct values × partitions) ints. */
  private[sink] def distinctInts(df: DataFrame, c: String): Set[Int] =
    df.select(df.col(c)).rdd.mapPartitions { rows =>
      val seen = scala.collection.mutable.HashSet.empty[Int]
      rows.foreach(r => seen += r.getInt(0))
      seen.iterator
    }.collect().toSet

  /** Every column of `batch` that `stored` also has, cast to its STORED
    * type. Murmur3 hashes differ across integer widths, so a batch key of
    * another width would pick the wrong buckets; and a wider payload
    * column would put the rewritten buckets on a different parquet type
    * than the carried-over ones. */
  private[sink] def castTo(batch: DataFrame, stored: StructType): DataFrame = {
    val types = stored.map(f => f.name -> f.dataType).toMap
    batch.select(batch.columns.toSeq.map { c =>
      types.get(c).filter(_ != batch.schema(c).dataType)
        .fold(batch.col(c))(t => batch.col(c).cast(t).as(c))
    }: _*)
  }

  /** Rows with their bucket column, placed in n = min(`maxWriterPartitions`,
    * |`buckets`|) tasks so that every bucket lands in exactly ONE task — a
    * write partitioned by bucket then makes one file per bucket — and the
    * buckets are dealt evenly: the i-th of `buckets` goes to task i mod n.
    * Spark hash-partitions on [[TaskCol]], a per-bucket value chosen on the
    * driver to hash (Murmur3, seed 42, as `HashPartitioning`) to its task;
    * hashing the bucket id itself sends 6 of 16 buckets to one of 4 tasks.
    * A row of a bucket outside `buckets` still lands in one task. */
  private[sink] def place(table: TargetTable, df: DataFrame,
      maxWriterPartitions: Int, buckets: Set[Int]): DataFrame = {
    val n = math.max(1, math.min(maxWriterPartitions, buckets.size))
    val keyOf = (0 until n).map(i => Iterator.from(0).find(v =>
      Math.floorMod(org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42), n) == i).get)
    val taskKey = buckets.toSeq.sorted.zipWithIndex.map { case (b, i) => b -> keyOf(i % n) }.toMap
    val b = if (df.columns.contains(BucketCol)) df
      else df.withColumn(BucketCol, bucketOf(table, df))
    b.withColumn(TaskCol, try_element_at(typedLit(taskKey), b.col(BucketCol)))
      .repartition(n, col(TaskCol))
  }

  /** The buckets a bucketed merge replaces, and their merged rows
    * (carrying [[BucketCol]], placed one task per bucket). */
  private[graft] final case class Rewrite(buckets: Set[Int], rows: DataFrame)

  /** The schema `change` leaves on a table whose committed schema is
    * `stored` (None: nothing stored yet — only an upsert then writes, on
    * the batch's own schema). The first soft delete on a table without
    * `flag` adds it, so a table keeps one schema. */
  private def schemaAfter(change: Change, stored: Option[StructType],
      batch: StructType, flag: String): StructType =
    stored.fold(batch) { s =>
      if (change == Change.SoftDelete && !s.fieldNames.contains(flag)) s.add(flag, BooleanType)
      else s
    }

  /** `batch` as the incoming side of `change` on a table of `schema`,
    * in the table's column order: conformed ([[conform]]: an upsert
    * defaults `flag` to active; a delete keeps only the merge-contract
    * columns) and cast to the stored types ([[castTo]]). */
  private def incoming(change: Change, schema: StructType, batch: DataFrame,
      contract: Seq[String], flag: String): DataFrame = {
    val conformed = change match {
      case Change.Upsert => conform(schema, batch, Map(flag -> lit(true)), contract)
      case _ => conform(schema,
        batch.select(contract.filter(batch.columns.contains).map(batch.col): _*),
        Map.empty, contract)
    }
    val typed = castTo(conformed, schema)
    typed.select(schema.fieldNames.toSeq.map(typed.col): _*)
  }

  /** The one latest-wins fold behind both entries. `stored` (at most one
    * row per key) and `incoming` hold the columns of `schema` and those
    * `prefix` columns that exist before `place`; a stored side without
    * `flag` (the first soft delete) gets it true on every row. Both sides
    * are tagged, unioned and placed, and each key folds in ONE aggregate
    * grouped by `prefix` ++ keys: the stored row and the newest incoming
    * row. Per key: an upsert keeps the newest incoming row unless the
    * stored row is strictly newer (the incoming row wins exact ties;
    * duplicate incoming rows dedupe in the same pass); a soft or hard
    * delete keeps the stored row, flagged or dropped when the newest
    * tombstone is at least as new. NULL keys fold as one key. Output:
    * the columns of `schema`, then `prefix`. */
  private def fold(change: Change, schema: StructType, keyCols: Seq[String],
      orderingCols: Seq[String], flag: String, stored: Option[DataFrame],
      incoming: DataFrame, prefix: Seq[String],
      place: DataFrame => DataFrame): DataFrame = {
    val cols = schema.fieldNames.toSeq
    def side(df: DataFrame, tag: Int): DataFrame = {
      val f = if (cols.contains(flag) && !df.columns.contains(flag)) df.withColumn(flag, lit(true))
        else df
      f.select(cols.map(f.col) ++ prefix.filter(f.columns.contains).map(f.col) :+
        lit(tag).as(SideCol): _*)
    }
    val placed = place((stored.map(side(_, 0)).toSeq :+ side(incoming, 1)).reduce(_ unionByName _))
    val row = struct(cols.map(placed.col): _*)
    val ord = struct(orderingCols.map(c => placed.col(c).as(c)): _*)
    val folded = placed.groupBy((prefix ++ keyCols).map(placed.col): _*)
      .agg(
        first(when(placed.col(SideCol) === 0, row), ignoreNulls = true).as("__t"),
        max_by(row, when(placed.col(SideCol) === 1, ord)).as("__u"))
    val (t, u) = (col("__t"), col("__u"))
    def ordOf(r: Column) = struct(orderingCols.map(c => r.getField(c).as(c)): _*)
    // the newest incoming row is at least as new as the stored one
    val incomingWins = u.isNotNull && ordOf(u) >= ordOf(t)
    def out(field: String => Column) = cols.map(c => field(c).as(c)) ++ prefix.map(col)
    change match {
      case Change.Upsert =>
        val w = when(t.isNull || incomingWins, u).otherwise(t)
        folded.select(out(w.getField): _*)
      case Change.SoftDelete =>
        folded.where(t.isNotNull).select(out(c =>
          if (c == flag) t.getField(c) && !incomingWins else t.getField(c)): _*)
      case Change.HardDelete =>
        folded.where(t.isNotNull && !incomingWins).select(out(t.getField): _*)
    }
  }

  /** The merge kernel of a bucket-organized target — the one place that
    * decides which buckets a merge touches. Its rows come from [[fold]],
    * grouped by (writer task, bucket).
    *
    *  1. `batch` (cached by the caller) is conformed to the stored schema
    *     ([[incoming]]) and its bucket ids are collected — job 1, which
    *     also fills the cache ([[distinctInts]]: per-partition sets, no
    *     shuffle, at most buckets × partitions ints on the driver, so no
    *     driver-size limit applies and no setting bounds it). An empty
    *     batch stops here: None, nothing to publish.
    *  2. Only those buckets are read (`readBuckets`, through the deletion
    *     vector) and folded with the batch, placed one task per bucket
    *     ([[place]]). The placement already satisfies the aggregate's
    *     distribution, so the merge is one shuffle of the touched slice —
    *     no broadcast, no second exchange — and the write runs in the
    *     aggregate's tasks.
    *
    * `stored` is the committed schema (None: nothing stored yet) and
    * `storedBuckets` the buckets holding rows. The first soft delete on a
    * table without `softDeleteCol` rewrites every stored bucket with the
    * flag added, so a snapshot keeps one schema. None when nothing
    * changes. */
  private[graft] def rewrite(table: TargetTable, change: Change, batch: DataFrame,
      stored: Option[StructType], storedBuckets: Set[Int],
      readBuckets: Seq[Int] => DataFrame, maxWriterPartitions: Int): Option[Rewrite] = {
    val flag = table.softDeleteCol
    val schema = schemaAfter(change, stored, batch.schema, flag)
    // the first soft delete adds the flag: every stored bucket is rewritten
    val migrate = stored.exists(_.length < schema.length)
    val in = incoming(change, schema, batch, table.keyCols ++ table.orderingCols, flag)
    val tagged = in.withColumn(BucketCol, bucketOf(table, in))
    // a delete on a table with nothing stored changes nothing: no job
    val touched =
      if (stored.isEmpty && change != Change.Upsert) Set.empty[Int]
      else distinctInts(tagged, BucketCol)
    val hit = if (migrate) storedBuckets ++ touched else touched
    val sliceBuckets = if (stored.isEmpty) Set.empty[Int] else hit.intersect(storedBuckets)
    if (touched.isEmpty || (sliceBuckets.isEmpty && change != Change.Upsert)) None
    else {
      val slice = if (sliceBuckets.isEmpty) None else Some {
        val s = readBuckets(sliceBuckets.toSeq.sorted)
        s.withColumn(BucketCol, bucketOf(table, s))
      }
      val rows = fold(change, schema, table.keyCols, table.orderingCols, flag, slice, tagged,
        Seq(TaskCol, BucketCol), place(table, _, maxWriterPartitions, hit))
      Some(Rewrite(hit, rows.drop(TaskCol)))
    }
  }

  /** `change` applied to a whole `target` frame with [[fold]], grouped by
    * the keys alone: no buckets, no placement. The result has the
    * target's columns, plus `flagCol` (true on every stored row before
    * the tombstones apply) when a soft delete meets a target without it.
    *
    * Preconditions, those of a stored table: `target` holds at most one
    * row per key (a duplicate keeps one of its rows); NULL keys fold as
    * one key, as in [[rewrite]]. `batch` may repeat keys: its newest row
    * per key applies. */
  private[graft] def mergeFrame(target: DataFrame, batch: DataFrame, change: Change,
      keyCols: Seq[String], versionCol: String, tieBreakCols: Seq[String] = Nil,
      flagCol: String = "row_active"): DataFrame = {
    val ordering = versionCol +: tieBreakCols
    val schema = schemaAfter(change, Some(target.schema), batch.schema, flagCol)
    fold(change, schema, keyCols, ordering, flagCol, Some(target),
      incoming(change, schema, batch, keyCols ++ ordering, flagCol), Nil, identity)
  }

  /** Dead-letter split — the validating front door of every ingest
    * pipeline: rows failing ANY rule are diverted to a quarantine
    * stream carrying the comma-joined names of every rule they violate
    * (in rule order — deterministic), instead of poisoning the target
    * or silently dropping. Valid rows pass through untouched for the
    * merge; the quarantine side keeps the FULL row for replay after the
    * upstream fix.
    *
    * NULL rule results count as violations, never as passes (the
    * [[graft.ops.Profile.expect]] contract — an unevaluable rule is a
    * failed rule). Returns (valid, quarantined + `quarantine_reason`).
    *
    * Scale: one row-local projection per side — no shuffle, no
    * aggregation; rules are ordinary Catalyst predicates, so scan
    * pruning and codegen apply as if the split weren't there. */
  def quarantineSplit(
      updates: DataFrame, rules: Seq[(String, Column)])
      : (DataFrame, DataFrame) = {
    require(rules.nonEmpty, "quarantineSplit needs at least one rule")
    require(!updates.columns.contains("quarantine_reason"),
      "updates already carry a quarantine_reason column")
    val marks = rules.map { case (name, pred) =>
      when(coalesce(pred, lit(false)), lit(null).cast("string"))
        .otherwise(lit(name))
    }
    val tagged = updates.withColumn("__viol",
      concat_ws(",", array(marks: _*)))
    val valid = tagged.filter(col("__viol") === "").drop("__viol")
    val bad = tagged.filter(col("__viol") =!= "")
      .withColumnRenamed("__viol", "quarantine_reason")
    (valid, bad)
  }

  /** BATCH-level data contract on the write path (the Delta
    * CHECK-constraint / expectations-on-write idea): count the batch's
    * rule violations FIRST, and only if they stay within
    * `maxViolations` does the merge run — otherwise the whole batch is
    * rejected loud and the target is untouched (all-or-nothing, unlike
    * [[quarantineSplit]]'s row-level diversion: a contract breach
    * signals an upstream bug where half-ingesting the batch would
    * poison the table AND mask the bug). A NULL rule result counts as
    * a violation (unprovable ≠ valid). One extra aggregate over the
    * batch — the target is never read before the verdict. */
  def contractUpsert(sink: MergeSink, batch: DataFrame,
      config: graft.model.IngestConfig, rules: Seq[(String, Column)],
      maxViolations: Long = 0L): Unit = {
    require(rules.nonEmpty, "contractUpsert needs at least one rule")
    val bad = batch.filter(
      rules.map { case (_, c) => !coalesce(c, lit(false)) }.reduce(_ || _))
      .count()
    if (bad > maxViolations)
      throw new IllegalStateException(
        s"data contract rejected batch: $bad violation(s) of " +
          s"[${rules.map(_._1).mkString(", ")}] exceed " +
          s"maxViolations=$maxViolations")
    sink.mergeUpsert(batch, config)
  }
}
