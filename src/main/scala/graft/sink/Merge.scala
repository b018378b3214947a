package graft.sink

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.TargetTable
import graft.ops.Dedup

/** Join-based MERGE — the Spark-native replacement for the reference's
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
  * Scale notes (100 TB target, micro-batch updates):
  * `upsertBroadcast` never shuffles the target. The micro-batch side is
  * deduped (small), broadcast, and the target is only scanned — survivors
  * via a broadcast left join, displaced rows via a broadcast left-semi
  * restriction. Shuffle volume is O(|batch|), independent of target size.
  * `upsertShuffle` is the classic full-outer merge for batch-sized updates;
  * with the target bucketed/pre-partitioned by key only the updates side
  * exchanges. These four frame-level merges are the reference semantics;
  * [[rewrite]] is the bucketed kernel `ParquetTarget` runs, checked
  * against them in `PropertySpec`.
  */
object Merge {

  private def ordering(df: DataFrame, versionCol: String, tie: Seq[String]): Column =
    struct((versionCol +: tie).map(df.col): _*)

  private def keyCond(left: DataFrame, right: DataFrame, keyCols: Seq[String]): Column =
    keyCols.map(k => left.col(k) === right.col(k)).reduce(_ && _)

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

  /** Micro-batch merge: target is scanned, never shuffled; updates are
    * deduped then broadcast. Preferred inside `foreachBatch`. */
  def upsertBroadcast(
      target: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      tieBreakCols: Seq[String] = Nil,
      defaults: Map[String, Column] = Map.empty): DataFrame = {
    val outCols = target.columns.toSeq
    val conformed = conform(target.schema, updates, defaults,
      keyCols ++ (versionCol +: tieBreakCols))
    val u = Dedup.latestWins(conformed.select(outCols.map(conformed.col): _*),
      keyCols, versionCol, tieBreakCols)

    // (key, ordering) pairs of the incoming batch, broadcast to every task.
    val uOrd = u.select(
      (keyCols.map(u.col) :+ ordering(u, versionCol, tieBreakCols).as("__u_ord")): _*)
    val bOrd = broadcast(uOrd)

    // Target rows that survive: no incoming row for the key, or the stored
    // row is strictly newer (incoming wins ties — ON CONFLICT DO UPDATE).
    val tOrdCol = ordering(target, versionCol, tieBreakCols)
    val survivors = target
      .join(bOrd, keyCols.map(k => target.col(k) === bOrd.col(k)).reduce(_ && _), "left_outer")
      .where(bOrd.col("__u_ord").isNull || tOrdCol > bOrd.col("__u_ord"))
      .select(outCols.map(target.col): _*)

    // Incoming rows that win: restrict the (huge) target to the batch's
    // keys with a broadcast semi-join — O(|batch|) rows — then compare.
    // The semi-join probes bOrd (already key-unique: u is latest-wins
    // deduped) rather than a separate distinct-keys frame, so the
    // survivors' and winners' broadcast subplans are identical and
    // ReuseExchange materializes ONE broadcast per merge, not two.
    val tMatched = target
      .join(bOrd,
        keyCols.map(k => target.col(k) === bOrd.col(k)).reduce(_ && _),
        "left_semi")
    val tM = tMatched.select(
      (keyCols.map(tMatched.col) :+ ordering(tMatched, versionCol, tieBreakCols).as("__t_ord")): _*)
    val winners = u
      .join(broadcast(tM), keyCols.map(k => u.col(k) === tM.col(k)).reduce(_ && _), "left_outer")
      .where(tM.col("__t_ord").isNull || ordering(u, versionCol, tieBreakCols) >= tM.col("__t_ord"))
      .select(outCols.map(u.col): _*)

    survivors.unionByName(winners)
  }

  /** Batch-scale merge: one full-outer shuffle join on the key; per-column
    * winner selection. Use when updates are comparable in size to the
    * target (backfills, reprocessing). */
  def upsertShuffle(
      target: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      tieBreakCols: Seq[String] = Nil,
      defaults: Map[String, Column] = Map.empty): DataFrame = {
    val outCols = target.columns.toSeq
    val conformed = conform(target.schema, updates, defaults,
      keyCols ++ (versionCol +: tieBreakCols))
    val u = Dedup.latestWins(conformed.select(outCols.map(conformed.col): _*),
      keyCols, versionCol, tieBreakCols)
    val t = target
    val joined = t.join(u, keyCond(t, u, keyCols), "full_outer")
    val uPresent = u.col(keyCols.head).isNotNull
    val tPresent = t.col(keyCols.head).isNotNull
    val uWins = uPresent && (!tPresent ||
      ordering(u, versionCol, tieBreakCols) >= ordering(t, versionCol, tieBreakCols))
    joined.select(outCols.map(c => when(uWins, u.col(c)).otherwise(t.col(c)).as(c)): _*)
  }

  /** Soft delete (reference "data soft deleter", `src/delete.rs:252`):
    * flips `flagCol` to false for keys with a tombstone at least as new as
    * the stored row. Adds `flagCol` (default true) if absent. */
  def softDelete(
      target: DataFrame,
      deletes: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      tieBreakCols: Seq[String] = Nil,
      flagCol: String = "row_active"): DataFrame = {
    val withFlag =
      if (target.columns.contains(flagCol)) target
      else target.withColumn(flagCol, lit(true))
    val d = Dedup.latestWins(deletes, keyCols, versionCol, tieBreakCols)
    val dOrd = d.select(
      (keyCols.map(d.col) :+ ordering(d, versionCol, tieBreakCols).as("__d_ord")): _*)
    val bD = broadcast(dOrd)
    val joined = withFlag.join(bD,
      keyCols.map(k => withFlag.col(k) === bD.col(k)).reduce(_ && _), "left_outer")
    val deleted = bD.col("__d_ord").isNotNull &&
      bD.col("__d_ord") >= ordering(withFlag, versionCol, tieBreakCols)
    val outCols = withFlag.columns.toSeq
    joined.select(outCols.map {
      case c if c == flagCol => (withFlag.col(flagCol) && !deleted).as(flagCol)
      case c => withFlag.col(c)
    }: _*)
  }

  /** Hard delete: drops rows whose key has a tombstone at least as new. */
  def hardDelete(
      target: DataFrame,
      deletes: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      tieBreakCols: Seq[String] = Nil): DataFrame = {
    val d = Dedup.latestWins(deletes, keyCols, versionCol, tieBreakCols)
    val dOrd = d.select(
      (keyCols.map(d.col) :+ ordering(d, versionCol, tieBreakCols).as("__d_ord")): _*)
    val bD = broadcast(dOrd)
    val joined = target.join(bD,
      keyCols.map(k => target.col(k) === bD.col(k)).reduce(_ && _), "left_outer")
    joined
      .where(bD.col("__d_ord").isNull ||
        bD.col("__d_ord") < ordering(target, versionCol, tieBreakCols))
      .select(target.columns.toSeq.map(target.col): _*)
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

  /** The merge kernel of a bucket-organized target — the one place that
    * decides which buckets a merge touches.
    *
    *  1. `batch` (cached by the caller) is conformed to the stored schema
    *     ([[conform]]: defaults, fail-loud column checks; stored types via
    *     [[castTo]]) and its bucket ids are collected — job 1, which also
    *     fills the cache ([[distinctInts]]: per-partition sets, no shuffle,
    *     at most buckets × partitions ints on the driver, so no driver-size
    *     limit applies and no setting bounds it). An empty batch stops
    *     here: None, nothing to publish.
    *  2. Only those buckets are read (`readBuckets`, through the deletion
    *     vector), unioned with the batch tagged by side, and placed one
    *     task per bucket ([[place]]). Each key folds in ONE aggregate
    *     grouped by (bucket, keys): the stored row (at most one per key)
    *     and the newest batch row. The placement already satisfies the
    *     aggregate's distribution, so the merge is one shuffle of the
    *     touched slice — no broadcast, no second exchange — and the write
    *     runs in the aggregate's tasks.
    *
    * Per key: an upsert keeps the newest batch row unless the stored row
    * is strictly newer (the incoming row wins exact ties; duplicate batch
    * rows dedupe in the same pass); a soft or hard delete keeps the stored
    * row, flagged or dropped when the newest tombstone is at least as new.
    *
    * `stored` is the committed schema (None: nothing stored yet — only an
    * upsert then writes, on the batch's own schema) and `storedBuckets`
    * the buckets holding rows. The first soft delete on a table without
    * `softDeleteCol` rewrites every stored bucket with the flag added, so
    * a snapshot keeps one schema. None when nothing changes. */
  private[graft] def rewrite(table: TargetTable, change: Change, batch: DataFrame,
      stored: Option[StructType], storedBuckets: Set[Int],
      readBuckets: Seq[Int] => DataFrame, maxWriterPartitions: Int): Option[Rewrite] = {
    val flag = table.softDeleteCol
    val contract = table.keyCols ++ table.orderingCols
    val migrate = change == Change.SoftDelete &&
      stored.exists(!_.fieldNames.contains(flag))
    val schema = stored.fold(batch.schema) { s =>
      if (migrate) s.add(flag, org.apache.spark.sql.types.BooleanType) else s
    }
    val conformed = change match {
      case Change.Upsert => conform(schema, batch, Map(flag -> lit(true)), contract)
      case _ => conform(schema,
        batch.select(contract.filter(batch.columns.contains).map(batch.col): _*),
        Map.empty, contract)
    }
    val cols = schema.fieldNames.toSeq
    val typed = castTo(conformed, schema)
    val incoming = typed.select(cols.map(typed.col) :+ bucketOf(table, typed).as(BucketCol): _*)
    // a delete on a table with nothing stored changes nothing: no job
    val touched =
      if (stored.isEmpty && change != Change.Upsert) Set.empty[Int]
      else distinctInts(incoming, BucketCol)
    val hit = if (migrate) storedBuckets ++ touched else touched
    val sliceBuckets = if (stored.isEmpty) Set.empty[Int] else hit.intersect(storedBuckets)
    if (touched.isEmpty || (sliceBuckets.isEmpty && change != Change.Upsert)) None
    else {
      val slice = if (sliceBuckets.isEmpty) None else Some {
        val s = readBuckets(sliceBuckets.toSeq.sorted)
        val f = if (migrate) s.withColumn(flag, lit(true)) else s
        f.select(cols.map(f.col) :+ bucketOf(table, f).as(BucketCol) :+ lit(0).as(SideCol): _*)
      }
      val sides = slice.toSeq :+ incoming.withColumn(SideCol, lit(1))
      val placed = place(table, sides.reduce(_ unionByName _), maxWriterPartitions, hit)
      val row = struct(cols.map(placed.col): _*)
      val ord = struct(table.orderingCols.map(c => placed.col(c).as(c)): _*)
      val folded = placed.groupBy((TaskCol +: BucketCol +: table.keyCols).map(placed.col): _*)
        .agg(
          first(when(placed.col(SideCol) === 0, row), ignoreNulls = true).as("__t"),
          max_by(row, when(placed.col(SideCol) === 1, ord)).as("__u"))
      val (t, u) = (col("__t"), col("__u"))
      def ordOf(r: Column) = struct(table.orderingCols.map(c => r.getField(c).as(c)): _*)
      // the newest batch row is at least as new as the stored one
      val incomingWins = u.isNotNull && ordOf(u) >= ordOf(t)
      def out(field: String => Column) = cols.map(c => field(c).as(c)) :+ col(BucketCol)
      val rows = change match {
        case Change.Upsert =>
          val w = when(t.isNull || incomingWins, u).otherwise(t)
          folded.select(out(w.getField): _*)
        case Change.SoftDelete =>
          folded.where(t.isNotNull).select(out(c =>
            if (c == flag) t.getField(c) && !incomingWins else t.getField(c)): _*)
        case Change.HardDelete =>
          folded.where(t.isNotNull && !incomingWins).select(out(t.getField): _*)
      }
      Some(Rewrite(hit, rows))
    }
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
