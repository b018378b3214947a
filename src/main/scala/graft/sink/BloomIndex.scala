package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-bucket BLOOM data-skipping sidecar over one column of a
  * [[ParquetTarget]] — the Delta/Iceberg-style middle tier between the
  * zone map (min/max, free but range-shaped) and the [[ValueIndex]]
  * (exact, but a whole second CDC-maintained table): a few KB of bits
  * per bucket that lets an equality probe on a NON-key column skip
  * every bucket that provably does not contain the value, at zero
  * per-row storage cost and with maintenance that touches only buckets
  * whose data changed.
  *
  * Layout at `path`: `words_v<baseVersion>.parquet` holding
  * (bucket INT, word_idx INT, word LONG) rows — only non-zero words
  * are stored, so sidecar size is min(m/64, k·distinct) longs per
  * bucket — plus the ValueIndex-style `_BASE_VERSION` marker. The
  * whole sidecar is O(buckets · m/64) longs (kilobytes to a few MB at
  * 4096 buckets); the EXPENSIVE part of a refresh — scanning data to
  * hash values — reads only the buckets whose dir changed between the
  * synced and current base versions (derived from the change feed),
  * so refresh cost is O(changed-bucket data), never a table rescan.
  * Deletes are why changed buckets RECOMPUTE rather than merge: bits
  * cannot be unset incrementally, so the bucket's bloom is rebuilt
  * from its current rows (still O(that bucket)).
  *
  * Bits are set by double hashing: position_i(v) = (h1 + i·h2) mod m,
  * i < k, with h1 = Murmur3 (Spark `hash`) and h2 = xxhash64 of the
  * value — both computed INSIDE the plan (codegen'd, distributed), and
  * the probe side reuses the identical expressions on the probe frame,
  * so engine and probe can never drift. NULLs are not indexed (SQL
  * equality never matches NULL). The filter is one-sided by
  * construction: a bucket whose bits all match MIGHT contain the value
  * (false positive → harmlessly read), a bucket with any bit clear
  * DEFINITELY does not (safe skip) — so presence of the sidecar is
  * purely an optimization, like the zone map.
  *
  * At 100 TB: the probe reads k words per bucket from a
  * filter-pushdown parquet scan of the sidecar (a few thousand rows),
  * decides surviving buckets on the driver (O(k·buckets), bounded by
  * construction), and resolves them through
  * [[ParquetTarget.readBuckets]] — scan cost O(surviving buckets). A
  * ~1% false-positive rate at the default (m = 2^14 bits, k = 5)
  * holds to ~1.1k distinct values per bucket; size `bits` up for
  * higher-cardinality columns.
  *
  * Reference anchor: the reference engine's ingestion targets carry no
  * data-skipping metadata at all (quick-stream `src/upsert.rs` writes
  * straight through a connection pool) — this sidecar is part of the
  * beyond-parity storage tier, same family as the zone maps and
  * deletion vectors. */
final class BloomIndex(spark: SparkSession, base: ParquetTarget,
    indexedCol: String, path: String,
    bits: Int = 1 << 14, hashes: Int = 5) {
  require(Integer.bitCount(bits) == 1 && bits >= 64,
    s"bits must be a power of two >= 64, got $bits")
  require(hashes >= 1 && hashes <= 16, s"hashes must be in [1,16], got $hashes")

  private val words = bits / 64

  private val marker = new BaseVersionMarker(spark, path)
  private def fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def wordsFile(v: Long) = new Path(new Path(path), f"words_v$v%010d")

  def syncedBaseVersion: Option[Long] = marker.get

  /** The base's bucket id of a row — same pmod(murmur3) as the
    * target's own layout (TargetTable pins the bucket count). */
  private def bucketCol(df: DataFrame): Column =
    pmod(hash(base.table.hashCols.map(df.col): _*), lit(base.table.buckets))

  /** (word_idx, word-bitmask) rows for every (bucket, value) pair of
    * `df` — the shared build/probe hashing plan. */
  private def bitRows(df: DataFrame, bucket: Column): DataFrame = {
    // both hashes pre-reduced mod m (ANSI-safe: no long overflow in
    // h1 + i·h2); the step is forced into [1, m-1] so the k probe
    // positions never collapse onto one bit
    val h1 = pmod(hash(col(indexedCol)).cast("long"), lit(bits.toLong))
    val h2 = pmod(xxhash64(col(indexedCol)), lit(bits.toLong - 1)) + lit(1L)
    df.where(col(indexedCol).isNotNull)
      .select(bucket.as("bucket"), h1.as("h1"), h2.as("h2"))
      .distinct()
      .select(col("bucket"),
        explode(sequence(lit(0L), lit(hashes - 1L))).as("i"),
        col("h1"), col("h2"))
      .select(col("bucket"),
        pmod(col("h1") + col("i") * col("h2"), lit(bits.toLong)).as("pos"))
      .select(col("bucket"), (col("pos") / 64).cast("int").as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("mask"))
      .groupBy(col("bucket"), col("word_idx"))
      .agg(expr("bit_or(mask)").as("word"))
  }

  private def writeSidecar(df: DataFrame, v: Long): Unit = {
    // the sidecar is KB-scale by construction: one output file
    df.coalesce(1).write.mode("overwrite")
      .parquet(wordsFile(v).toString)
    marker.set(v)
    // GC superseded sidecars (crash before this is harmless orphanage)
    if (fs.exists(new Path(path)))
      fs.listStatus(new Path(path)).foreach { s =>
        val n = s.getPath.getName
        if (n.startsWith("words_v") && n != wordsFile(v).getName)
          fs.delete(s.getPath, true)
      }
  }

  /** Full build from the base's current state. One base scan. */
  def rebuild(): Unit = {
    val v = base.versions().lastOption.getOrElse(
      throw new IllegalStateException(
        s"cannot bloom-index ${base.table.name}: no committed version"))
    val d = base.read().get
    writeSidecar(bitRows(d, bucketCol(d)), v)
  }

  /** Incremental sync: recompute blooms ONLY for buckets whose data
    * changed since the last synced version (bucket set derived from
    * the change feed's keys), carry every other bucket's words over
    * unchanged. O(changed-bucket data) scan, never a base rescan.
    * No-op when current. */
  def refresh(): Unit = {
    val cur = base.versions().lastOption.getOrElse(return)
    val from = syncedBaseVersion.getOrElse(throw new IllegalStateException(
      s"bloom index over ${base.table.name} was never built — rebuild first"))
    if (cur == from) return
    val feed = base.readChanges(from, cur)
      .getOrElse(throw new IllegalStateException(
        s"base versions $from..$cur no longer retained — the bloom " +
          s"index aged out of ${base.table.name}'s retention window; rebuild"))
    val changed = feed.select(bucketCol(feed).as("b")).distinct()
      .collect().map(_.getInt(0)).toSeq // bounded by the bucket count
    val kept = readSidecar(from)
      .filter(!col("bucket").isin(changed: _*))
    val re = base.readBuckets(changed).get
    writeSidecar(kept.unionByName(bitRows(re, bucketCol(re))), cur)
  }

  private def readSidecar(v: Long): DataFrame =
    spark.read.parquet(wordsFile(v).toString)

  /** Bucket ids that MIGHT contain `value` (all k bits set) — the
    * pruning decision, exposed for specs and planning. Buckets absent
    * from the sidecar have no indexed values at all and are skipped.
    * Driver cost: k sidecar words per bucket via a pushed-down scan. */
  def candidateBuckets(value: Any): Seq[Int] = {
    val synced = syncedBaseVersion.getOrElse(throw new IllegalStateException(
      s"bloom index over ${base.table.name} was never built — rebuild first"))
    import spark.implicits._
    // probe positions through the IDENTICAL plan expressions
    val probe = Seq(1).toDF("one").select(lit(value).as(indexedCol))
    val pos = bitRows(probe, lit(0))
      .select(col("word_idx"), col("word")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    readSidecar(synced)
      .filter(col("word_idx").isin(pos.keys.toSeq: _*))
      .collect()
      .groupBy(_.getInt(0))
      .collect { case (bucket, rows) =>
        val got = rows.map(r => r.getInt(1) -> r.getLong(2)).toMap
        val allSet = pos.forall { case (w, mask) =>
          (got.getOrElse(w, 0L) & mask) == mask
        }
        if (allSet) Some(bucket) else None
      }.flatten.toSeq.sorted
  }

  /** Bring the sidecar up to date: bootstrap on first use, else refresh. */
  private[sink] def sync(): Unit =
    if (syncedBaseVersion.isEmpty) rebuild() else refresh()

  /** Bloom-pruned equality scan: current base rows with
    * `indexedCol = value`, reading only the candidate buckets. The
    * exact predicate re-applies on top (false positives are read then
    * filtered, never returned). */
  def lookupEq(value: Any): DataFrame =
    base.readBuckets(candidateBuckets(value)).get
      .filter(col(indexedCol) === lit(value))
}

/** A [[MergeSink]] that keeps a [[BloomIndex]] transactionally-adjacent
  * to its base target — [[IndexedParquetSink]]'s data-skipping sibling:
  * every micro-batch merge is followed by a changed-buckets-only bloom
  * refresh, so a streaming ingest leaves the state table AND its
  * skipping sidecar current at every committed batch. First merge
  * bootstraps (rebuild); later merges pay O(batch-touched buckets).
  * Crash between base commit and refresh replays idempotently from the
  * `_BASE_VERSION` marker, exactly the ValueIndex contract. */
final class BloomIndexedSink(base: ParquetTarget, bloom: BloomIndex)
    extends SyncingSink(base, _ => bloom.sync())
