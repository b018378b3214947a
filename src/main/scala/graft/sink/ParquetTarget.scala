package graft.sink

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{Column, DataFrame, GraftSql, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, lit, regexp_extract, struct}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

import graft.model.{IngestConfig, TargetTable}

/** A parquet-backed mutable table, hash-bucketed by merge key — the
  * engine's stand-in for the reference's Postgres target tables, designed
  * so a micro-batch merge costs O(batch ∪ affected buckets), NOT a rewrite
  * of the whole table (at 100 TB the difference between a sink that works
  * and one that doesn't).
  *
  * Layout — immutable per-version delta dirs + a manifest per version that
  * maps each key-hash bucket to the version dir that last rewrote it and
  * names everything else the version needs:
  *
  * {{{
  *   table.path/
  *     _LATEST                     <- name of the current manifest file
  *     m0000000003                 <- manifest of version 3:
  *                                      #buckets=4
  *                                      #dv=x0000000003   (empty: none)
  *                                      #zone=3\t1\t2     (bucket, min, max)
  *                                      3\td0000000002/__graft_bucket=3
  *     x0000000003/                <- deletion vector of a vectored delete
  *     d0000000001/                <- delta of version 1 (_SUCCESS marker)
  *       __graft_bucket=0/...parquet
  *       __graft_bucket=3/...parquet
  *     d0000000002/
  *       __graft_bucket=3/...parquet   <- v2 rewrote only bucket 3
  * }}}
  *
  * A merge computes the batch's bucket set, reads ONLY those buckets'
  * dirs, merges, writes them under the next delta, and the next manifest
  * carries every untouched bucket over by reference. Bucket count is
  * `TargetTable.buckets`; Spark `hash` (Murmur3) over the key columns
  * assigns buckets on both the read and write side ([[Merge.bucketOf]]).
  *
  * Job budget (what a micro-batch pays in Spark round trips):
  *  - `mergeUpsert` / `mergeSoftDelete` / `mergeHardDelete`: at most 4
  *    jobs, one shuffle of the touched slice and no broadcast
  *    ([[Merge.rewrite]]): the batch's bucket ids (which also fills the
  *    batch cache), the shuffle's map stage, the write. A batch with no
  *    rows stops after the first and publishes nothing.
  *  - `lookup` / `lookupByBucketCols` of a local key frame: none inside
  *    the call; the caller's action on the returned frame is the one job
  *    (a scan of the chosen bucket dirs under a literal `IN`). A key frame
  *    that is not local adds the job that collects it.
  *  - every job an operation starts carries the local property
  *    [[ParquetTarget.OpKey]] = `<table>:<op>:<version>`.
  *
  * Every commit writes each bucket it rewrites as ONE zstd file, from one
  * writer task; zone-map bounds come from those files' parquet footer
  * statistics, read on the driver, and the footer of a written file seeds
  * the schema cache for the version the commit publishes — so a commit
  * runs no re-read job and a read runs no schema-inference job. Tables
  * written with several (snappy) files per bucket read and merge the same
  * way; the next rewrite of a bucket leaves one file.
  *
  * A version is one manifest: every public method resolves the committed
  * [[Snapshot]] ONCE — one `_LATEST` read, one manifest parse, one
  * dir-existence pass ([[snapshot]]) — and takes its slice, schema, zone
  * bounds and deletion vector from it; `commit` publishes the version
  * after the one it was handed. No read, lookup or merge lists the root.
  * A deletion vector keys a row by its file's path inside the table
  * (`d…/__graft_bucket=N/<file>`, [[dvKey]]), so a copied, moved or
  * cloned table reads the same rows.
  *
  * Metadata protocol: [[MetaFile]] reads a small metadata file and
  * publishes one atomically (tmp file, stale destination deleted, rename
  * checked); [[listVersioned]] lists the root's `m`/`z`/`x`/`d` names for
  * GC, crash recovery, [[versions]] and manifests written before they
  * named their vector. [[publishVersion]] is the one path a new version
  * becomes visible through — manifest, `_LATEST` repoint, GC — shared by
  * `commit`, `rollbackTo` and `cloneTo` (which publishes through a target
  * on the clone root). A manifest without a `#dv=` line was written by an
  * older version of this class: its vector is the newest `x` dir at or
  * before its version and its zone bounds are in a `z<version>` file
  * ([[snapshotAt]]).
  *
  * Downgrade: the older reader still reads tables this version writes (it
  * skips `#` lines), but it matches vectors by absolute file URI and finds
  * them by listing, so rows a vectored delete removed reappear for it.
  *
  * Crash safety (no window loses committed state):
  *  - crash while writing a delta or a vector: no manifest names it; the
  *    next commit of that version number overwrites the orphan, or GC
  *    removes it.
  *  - crash between manifest creation and `_LATEST` repoint: recovery
  *    scans for the highest manifest whose named dirs all exist —
  *    the one just written — so the merge survives. Combined with the
  *    checkpointed source and deterministic latest-wins merge, replayed
  *    micro-batches re-merge idempotently (exactly-once state).
  *
  * Schema migrations (e.g. soft delete adding its flag column) rewrite all
  * buckets once, keeping every referenced file on one uniform schema so
  * multi-dir reads never depend on parquet schema merging.
  *
  * Concurrency contract: SINGLE WRITER per target. Commits take a
  * create-exclusive `_LOCK` lease, so a second concurrent stream fails
  * loud instead of silently clobbering a committed merge (see
  * `withCommitLock`); route upserts and deletes for one target through
  * one stream. Readers need no lock (manifests are immutable once
  * published).
  *
  * On object stores a transactional table format (v2 `MERGE INTO` target)
  * is the production path; the bucket-pruned merge planning here carries
  * over unchanged. Writer parallelism is bounded by
  * `IngestConfig.maxWriterPartitions`, the analog of the reference's
  * DB-connection cap (`max_con_count`, quick_stream `src/builder.rs:14-33`).
  */
final class ParquetTarget(spark: SparkSession, val table: TargetTable)
    extends MergeSink {
  import ParquetTarget.{Codec, OpKey, Snapshot}
  import Merge.BucketCol

  private val root = new Path(table.path)
  private val pointer = new Path(root, "_LATEST")
  private val lockPath = new Path(root, "_LOCK")
  private val DvFileCol = "__graft_dv_file"
  private val DvPosCol = "__graft_dv_pos"
  private val DvBucketCol = "__graft_dv_bucket"
  private val dvSchema =
    StructType(Seq(StructField(DvFileCol, StringType), StructField(DvPosCol, LongType)))

  private def fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def nameOf(kind: Char, v: Long): String = f"$kind$v%010d"
  private def pathOf(kind: Char, v: Long): Path = new Path(root, nameOf(kind, v))

  /** (kind, version) of a versioned root entry: `m` manifest, `x`
    * deletion vector, `d` delta or `z` zone bounds (written only before
    * manifests held them), plus 10 digits. */
  private def parseVersioned(name: String): Option[(Char, Long)] =
    if (name.length == 11 && "mzxd".contains(name.head) && name.drop(1).forall(_.isDigit))
      Some(name.head -> name.drop(1).toLong)
    else None

  /** Every versioned entry of the root as (kind, version, path), from ONE
    * listing; Nil before the first commit. */
  private def listVersioned(): Seq[(Char, Long, Path)] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.flatMap { s =>
      parseVersioned(s.getPath.getName).map { case (k, v) => (k, v, s.getPath) }
    }

  private def versionsOf(kind: Char): Seq[Long] =
    listVersioned().collect { case (k, v, _) if k == kind => v }

  /** Version `v`'s snapshot, parsed from its manifest: the `#buckets=`
    * header, `#dv=` (the deletion vector's dir, relative to the root or
    * absolute; empty for none), one `#zone=<bucket>\t<min>\t<max>` line
    * per bucket with version bounds and one `<bucket>\t<dir>` line per
    * bucket. None unless every dir it names exists (an older manifest may
    * name GC'd dirs). The header pins the table's bucket count: opening an
    * existing table with a different `TargetTable.buckets` fails loud —
    * silently hashing mod a different count would prune the wrong buckets
    * and corrupt latest-wins state.
    *
    * A manifest without a `#dv=` line was written before manifests named
    * their vector; for it alone, the vector is the newest `x` dir at or
    * before `v` (a vector stays authoritative until a newer one
    * supersedes it) and the zone bounds are read from the `z<v>` file. */
  private def snapshotAt(v: Long): Option[Snapshot] =
    MetaFile.read(fs, pathOf('m', v)).flatMap { text =>
      val lines = text.split("\n").toSeq.filter(_.nonEmpty)
      def tagged(tag: String): Seq[String] =
        lines.filter(_.startsWith(tag)).map(_.stripPrefix(tag))
      tagged("#buckets=").foreach { h =>
        if (h.toInt != table.buckets)
          throw new IllegalStateException(
            s"target ${table.name} was created with $h buckets but " +
              s"TargetTable.buckets is ${table.buckets} — bucket count is " +
              "immutable once written (rebuild the table to change it)")
      }
      val manifest = lines.filterNot(_.startsWith("#")).map { line =>
        val Array(b, dir) = line.split("\t", 2)
        b.toInt -> dir
      }.toMap
      val (dv, zoneLines) = tagged("#dv=").headOption match {
        case Some(d) => (Some(d).filter(_.nonEmpty), tagged("#zone="))
        case None => (versionsOf('x').filter(_ <= v).maxOption.map(nameOf('x', _)),
          MetaFile.read(fs, pathOf('z', v)).toSeq.flatMap(_.split("\n")).filter(_.nonEmpty))
      }
      val zones = zoneLines.map { line =>
        val Array(b, mn, mx) = line.split("\t", 3)
        b.toInt -> (mn.toLong, mx.toLong)
      }.toMap
      Some(Snapshot(v, manifest, dv, zones))
        .filter(s => (s.dirs ++ dv).forall(d => fs.exists(new Path(root, d))))
    }

  /** The committed snapshot: the version `_LATEST` names if that manifest
    * is intact, else (crash recovery) the highest intact manifest on disk.
    * The only reader of `_LATEST`; public operations call it once. */
  private def snapshot(): Option[Snapshot] =
    MetaFile.read(fs, pointer).flatMap(n => parseVersioned(n.trim))
      .collect { case ('m', v) => v }.flatMap(snapshotAt)
      .orElse(versionsOf('m').sorted.reverseIterator.flatMap(snapshotAt).nextOption())

  private def nonEmptySnapshot(): Option[Snapshot] =
    snapshot().filter(_.manifest.nonEmpty)

  def exists: Boolean = snapshot().isDefined

  /** Snapshot schema per committed version (schemas are uniform across a
    * version's files by the migration invariant, and a committed
    * version's files are immutable) — caching it lets every read pass an
    * explicit schema instead of running Spark's footer-inference job,
    * which at micro-batch cadence costs more driver time than the merge
    * planning itself. `commit` seeds it with the version it publishes.
    * Metadata only; no data or results are cached. */
  private val schemaByVersion =
    scala.collection.mutable.HashMap.empty[Long, StructType]

  /** Cache bound (r13 advice): only retained versions stay readable, so
    * a long-lived micro-batch target must not accumulate one StructType
    * per commit for the life of the JVM. Generously above any
    * `retainVersions` in use; eviction drops the OLDEST versions, which
    * are the ones GC retires. */
  private val schemaCacheMax = 64

  /** Version `v`'s schema: cached, else read on the driver from the
    * footer of one file of `anyDir`. */
  private def schemaAt(v: Long, anyDir: String): StructType =
    synchronized(schemaByVersion.get(v)).getOrElse {
      val f = dataFiles(anyDir).head
      cacheSchema(v, GraftSql.parquetSchema(spark, f, footer(f)))
    }

  private def cacheSchema(v: Long, s: StructType): StructType = synchronized {
    schemaByVersion(v) = s
    if (schemaByVersion.size > schemaCacheMax)
      schemaByVersion --= schemaByVersion.keys.toSeq.sorted
        .dropRight(schemaCacheMax)
    s
  }

  /** Parquet data files of one bucket dir (no `_` markers or hidden
    * checksum files). */
  private def dataFiles(dir: String): Seq[Path] =
    fs.listStatus(new Path(root, dir)).toSeq.map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))

  /** Footer of parquet file `p`, read with two positioned reads: a file
    * ends with the footer, its 4-byte little-endian length and `PAR1`.
    * A commit reads one footer per written bucket, and
    * `ParquetFileReader.open` measured about 10× slower per local file. */
  private def footer(p: Path): ParquetMetadata = {
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      val tail = new Array[Byte](8)
      in.readFully(len - 8, tail)
      require(new String(tail, 4, 4, StandardCharsets.US_ASCII) == "PAR1",
        s"$p: not a plain parquet file")
      val n = java.nio.ByteBuffer.wrap(tail, 0, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      val bytes = new Array[Byte](n)
      in.readFully(len - 8 - n, bytes)
      new ParquetMetadataConverter().readParquetMetadata(
        new java.io.ByteArrayInputStream(bytes), ParquetMetadataConverter.NO_FILTER)
    } finally in.close()
  }

  /** Uniform schema of a snapshot (invariant: every file a version
    * references shares it — migrations rewrite all buckets). The cache is
    * keyed by the version whose dirs are read, which a [[Snapshot]] keeps
    * paired by construction. */
  private def schemaOf(s: Snapshot): StructType = schemaAt(s.version, s.dirs.head)

  private def readDirs(dirs: Seq[String],
      schema: Option[StructType] = None): DataFrame = {
    val reader = schema.fold(spark.read)(s => spark.read.schema(s))
    reader.parquet(dirs.map(d => new Path(root, d).toString): _*)
  }

  /** Read `dirs` of snapshot `s` with merge-on-read deletion vectors:
    * the raw multi-dir scan, anti-joined against the snapshot's vector on
    * (file key, in-file row position) — from the parquet reader's
    * `_metadata` columns, stable because committed files are immutable.
    * No vector ⇒ exactly the raw scan (no metadata projection, no join).
    * The vector is usually tiny relative to the table, so AQE picks a
    * broadcast anti-join; schema is unchanged either way. */
  private def readDirsDv(s: Snapshot, dirs: Seq[String]): DataFrame =
    if (s.dv.isEmpty) readDirs(dirs, Some(schemaAt(s.version, dirs.head)))
    else readDirsWithMeta(s, dirs).drop(DvFileCol, DvPosCol)

  /** The key a deletion vector stores for a data file: its path inside the
    * table, `d<10 digits>/__graft_bucket=N/<file>` — the same wherever the
    * table is copied, moved or cloned to. Applied to the scanned file path
    * and to every stored entry, so entries older vectors stored as
    * absolute URIs match too. */
  private def dvKey(path: Column): Column =
    regexp_extract(path, s"(d\\d{10}/$BucketCol=\\d+/[^/]+)$$", 1)

  /** Read deletion vector `dv` down to its (file key, row position)
    * contract, optionally PRUNING to the named buckets: a vector is
    * written partitioned by the bucket of each marked file, so a
    * bucket-scoped read scans only the matching shards (partition pruning
    * on [[DvBucketCol]]) — a reader of one bucket never pays for a
    * corpus-wide delete's full position set. */
  private def readDv(dv: String, buckets: Option[Seq[Int]] = None): DataFrame = {
    // the known schema skips the inference job; partition discovery still
    // adds the shard column when the vector is sharded
    val marks = spark.read.schema(dvSchema).parquet(new Path(root, dv).toString)
    val pruned = buckets match {
      case Some(bs) if marks.columns.contains(DvBucketCol) =>
        marks.filter(col(DvBucketCol).isin(bs: _*))
      case _ => marks
    }
    pruned.select(dvKey(col(DvFileCol)).as(DvFileCol), col(DvPosCol))
  }

  /** Bucket ids named by a set of manifest dir entries
    * (`<delta>/__graft_bucket=N`) — the DV-pruning key. */
  private def bucketIdsOfDirs(dirs: Seq[String]): Seq[Int] =
    dirs.flatMap(_.split('/').lastOption
      .filter(_.startsWith(s"$BucketCol="))
      .map(_.stripPrefix(s"$BucketCol=").toInt)).distinct

  /** Like [[readDirsDv]] but KEEPING the (file key, row position)
    * metadata columns — for callers that need provenance past the DV
    * anti-join (`input_file_name()` cannot cross a multi-source plan). */
  private def readDirsWithMeta(s: Snapshot, dirs: Seq[String]): DataFrame = {
    val base = readDirs(dirs, Some(schemaAt(s.version, dirs.head)))
      .select(col("*"), dvKey(col("_metadata.file_path")).as(DvFileCol),
        col("_metadata.row_index").as(DvPosCol))
    s.dv.fold(base) { dv =>
      val ids = bucketIdsOfDirs(dirs)
      base.join(readDv(dv, if (ids.nonEmpty) Some(ids) else None),
        Seq(DvFileCol, DvPosCol), "left_anti")
    }
  }

  def read(): Option[DataFrame] =
    nonEmptySnapshot().map(s => readDirsDv(s, s.dirs))

  /** Time travel: the snapshot a specific committed version published;
    * None once GC'd past `TargetTable.retainVersions` (or never existed). */
  def readVersion(v: Long): Option[DataFrame] =
    snapshotAt(v).filter(_.manifest.nonEmpty).map(s => readDirsDv(s, s.dirs))

  /** Change data feed between two committed versions (CDC): the keyed
    * diff from → to, one row per inserted, updated, or deleted key with
    * `_change_type` ∈ insert | update | delete. Insert/update rows carry
    * the post-image, delete rows the pre-image (all table columns).
    *
    * Scale: each manifest records which bucket dirs its commit rewrote,
    * so only buckets whose dir CHANGED between the two manifests are
    * read and diffed — carried-over buckets reference the same immutable
    * files and cannot contain changes. Cost is O(changed buckets), the
    * same pruning merges enjoy (a 1-bucket commit on a 10k-bucket table
    * diffs 1 bucket, not the table); the diff itself is one full-outer
    * join on the merge keys within those buckets, and the key→bucket
    * mapping is version-independent, so no change can hide outside them.
    *
    * With `updatePreimages = true`, an updated key emits TWO rows —
    * `update_preimage` (the old row) and `update_postimage` (the new) —
    * the shape incremental consumers need: downstream aggregates are
    * maintained by subtracting pre-images and adding post-images
    * (see `ops/Incremental`), O(changes) instead of an O(table) rescan.
    *
    * Both versions must still be retained (`TargetTable.retainVersions`)
    * and share one schema — a schema migration rewrites every bucket, so
    * a cross-migration feed would degenerate to "every row changed" and
    * is rejected loud instead. None when either version is gone. */
  def readChanges(
      fromVersion: Long, toVersion: Long,
      updatePreimages: Boolean = false): Option[DataFrame] = {
    require(fromVersion < toVersion,
      s"readChanges needs fromVersion < toVersion, got $fromVersion >= $toVersion")
    for { so <- snapshotAt(fromVersion); sn <- snapshotAt(toVersion) }
    yield {
      val (mo, mn) = (so.manifest, sn.manifest)
      val changed = (mo.keySet ++ mn.keySet).toSeq.sorted
        .filter(b => mo.get(b) != mn.get(b))
      // A vectored delete changes NO bucket dirs — its changes hide in
      // the deletion-vector delta. Map the delta's file keys back to
      // their bucket dirs and diff those too (still O(changes), the DV
      // names exactly the touched files). The delta runs both ways:
      // positions marked only at `toVersion` were deleted, positions
      // marked only at `fromVersion` were restored (a rollback past a
      // vectored delete).
      val dvHitDirs: Seq[String] =
        if (so.dv == sn.dv) Nil
        else {
          val marks = (s: Snapshot) => s.dv.fold(emptyWithSchema(dvSchema))(readDv(_))
          val (oldDv, newDv) = (marks(so), marks(sn))
          val delta = newDv.except(oldDv).union(oldDv.except(newDv))
          // a file key is `<delta>/__graft_bucket=N/<file>`; a manifest dir,
          // relative or absolute, ends with `<delta>/__graft_bucket=N`
          val dirByKey = (mo.values ++ mn.values).toSeq.distinct
            .map(d => d.split('/').takeRight(2).mkString("/") -> d).toMap
          withOpTag("changes", toVersion)(delta.select(col(DvFileCol)).distinct().collect())
            .flatMap(r => dirByKey.get(r.getString(0).split('/').take(2).mkString("/")))
            .distinct.toSeq
        }
      val oldDirs =
        (changed.flatMap(mo.get) ++ dvHitDirs.filter(mo.values.toSet)).distinct
      val newDirs =
        (changed.flatMap(mn.get) ++ dvHitDirs.filter(mn.values.toSet)).distinct
      val anyDirs = (mn ++ mo).values.toSeq.distinct
      if (anyDirs.isEmpty)
        // table empty at both versions: empty feed, marker column only
        emptyWithSchema(StructType(Seq(StructField("_change_type", StringType))))
      else {
        // each side's frame is built ONCE (driver-side file listing +
        // parquet footer reads happen per readDirs call); each side
        // applies ITS version's deletion vector, so a vectored delete
        // between the two versions surfaces as `delete` change rows
        val oldFrame =
          if (oldDirs.nonEmpty) Some(readDirsDv(so, oldDirs)) else None
        val newFrame =
          if (newDirs.nonEmpty) Some(readDirsDv(sn, newDirs)) else None
        // No changed buckets: empty feed. The schema must come from the
        // FEED's own versions (prefer toVersion; fall back to fromVersion
        // when the table was empty at toVersion) — routing through the
        // CURRENT version here either poisoned the schema cache across a
        // migration or stamped the feed with a later schema (r13 advice).
        val schema = newFrame.orElse(oldFrame).map(_.schema)
          .getOrElse(schemaOf(if (mn.nonEmpty) sn else so))
        for { of <- oldFrame; _ <- newFrame } require(of.schema == schema,
          s"readChanges across a schema migration is unsupported: version " +
            s"$fromVersion schema ${of.schema} != version $toVersion schema $schema")
        val o = oldFrame.getOrElse(emptyWithSchema(schema))
        val n = newFrame.getOrElse(emptyWithSchema(schema))
        val cols = schema.fieldNames.toSeq
        val pre = o.select(table.keyCols.map(o.col) :+
          org.apache.spark.sql.functions.struct(cols.map(o.col): _*).as("__pre"): _*)
        val post = n.select(table.keyCols.map(n.col) :+
          org.apache.spark.sql.functions.struct(cols.map(n.col): _*).as("__post"): _*)
        import org.apache.spark.sql.functions.{array, explode, struct, when}
        def tagged(img: Column, ct: String) =
          struct(img.as("img"), lit(ct).as("ct"))
        val updateRows =
          if (updatePreimages)
            array(tagged(col("__pre"), "update_preimage"),
              tagged(col("__post"), "update_postimage"))
          else array(tagged(col("__post"), "update"))
        pre.join(post, table.keyCols, "full_outer")
          .where(!(col("__pre") <=> col("__post")))
          .select(explode(
            when(col("__pre").isNull, array(tagged(col("__post"), "insert")))
              .when(col("__post").isNull, array(tagged(col("__pre"), "delete")))
              .otherwise(updateRows)).as("__r"))
          .select(cols.map(c => col(s"__r.img.$c").as(c)) :+
            col("__r.ct").as("_change_type"): _*)
      }
    }
  }

  /** Point lookup: current rows whose key appears in `keys` (a frame
    * carrying the key columns; extras ignored, duplicates collapsed).
    * Reads ONLY the buckets those keys hash into — the read-side twin of
    * the bucket-pruned merge: a lookup of b distinct keys scans at most
    * min(b, touched-bucket) dirs of the table, not the table. The key set
    * is collected to the driver (see [[probe]]), so the caller's action
    * on the result is the lookup's one Spark job. None when the target
    * does not exist. */
  def lookup(keys: DataFrame): Option[DataFrame] = probe(keys, table.keyCols)

  /** Current rows of an explicit set of buckets — the read primitive a
    * data-skipping sidecar (zone map, Bloom index) resolves its pruning
    * decision into: scan cost is O(selected bucket dirs), never the
    * table. Unknown bucket ids simply select nothing. None when the
    * target does not exist. */
  def readBuckets(bucketIds: Seq[Int]): Option[DataFrame] =
    nonEmptySnapshot().map { s =>
      val dirs = bucketIds.distinct.flatMap(s.manifest.get).distinct
      if (dirs.isEmpty) emptyWithSchema(schemaOf(s)) else readDirsDv(s, dirs)
    }

  /** Equality lookup by the BUCKET columns alone
    * ([[graft.model.TargetTable.bucketCols]], a declared subset of the
    * key): reads exactly the buckets those values hash into and
    * left-semi filters rows. The read path of a value-bucketed
    * secondary index — an equality probe on the indexed value opens
    * ONE bucket dir however large the index. Falls back to the full
    * key set when no bucketCols were declared (then it equals
    * [[lookup]] semantics on the key prefix). */
  def lookupByBucketCols(vals: DataFrame): Option[DataFrame] =
    probe(vals, table.hashCols)

  /** Current rows whose `cols` values appear in `vals` (`cols` covers
    * the hash columns). The value set is a lookup's, so it is collected to
    * the driver — a local frame costs no job — and cast to the stored
    * types; its buckets come from the write side's expression evaluated
    * over a local relation (no job either), and only those buckets' dirs
    * are scanned, filtered by a literal `IN` on `cols`. A value with a
    * NULL never matches, as in a join. A key frame that is not local costs
    * one collect job, tagged like a mutator's. */
  private def probe(vals: DataFrame, cols: Seq[String]): Option[DataFrame] =
    nonEmptySnapshot().map { s =>
      val schema = schemaOf(s)
      val typed = Merge.castTo(vals.select(cols.map(vals.col): _*), schema)
      val keys = withOpTag("lookup", s.version)(typed.collect()).toSeq.distinct
        .filterNot(_.anyNull)
      val local = spark.createDataFrame(java.util.Arrays.asList(keys: _*), typed.schema)
      val dirs = local.select(Merge.bucketOf(table, local)).collect()
        .map(_.getInt(0)).distinct.toSeq.flatMap(s.manifest.get).distinct
      def value(c: String, v: Any): Column = lit(v).cast(typed.schema(c).dataType).as(c)
      val in =
        if (cols.size == 1) col(cols.head).isin(keys.map(k => value(cols.head, k.get(0))): _*)
        else struct(cols.map(col): _*).isin(keys.map(k =>
          struct(cols.zip(k.toSeq).map { case (c, v) => value(c, v) }: _*)): _*)
      if (dirs.isEmpty) emptyWithSchema(schema)
      else readDirsDv(s, dirs).where(in)
    }

  /** Intact (readable) committed versions, ascending — at most
    * `retainVersions` of them after any commit's GC. */
  def versions(): Seq[Long] =
    versionsOf('m').filter(snapshotAt(_).isDefined).sorted

  /** Per-bucket zone maps (min/max of the version column) of the
    * committed version — the data-skipping bounds `commit` records in the
    * manifest for integral version columns. A bucket ABSENT from the map
    * has unknown bounds (non-integral version column, no statistics) and
    * must always be read; presence is therefore purely an optimization,
    * never a correctness input. */
  def zoneMaps(): Map[Int, (Long, Long)] =
    snapshot().map(_.zones).getOrElse(Map.empty)

  /** Buckets of `s` whose recorded version bounds intersect [lo, hi];
    * buckets without bounds are always chosen. */
  private def bucketsInRange(s: Snapshot, lo: Long, hi: Long): Map[Int, String] =
    s.manifest.filter { case (b, _) =>
      s.zones.get(b).forall { case (mn, mx) => mx >= lo && mn <= hi }
    }

  /** Zone-map-pruned range scan: rows of the current snapshot whose
    * version column lies in [lo, hi], reading ONLY the buckets whose
    * recorded [min, max] intersects the range — the classic data-
    * skipping contract (Delta/Iceberg file stats, here at bucket-dir
    * grain on top of parquet's own row-group stats). Buckets without
    * recorded bounds are read (conservative); the row filter is always
    * applied, so pruning can only skip work, never change the answer.
    *
    * Scale: the decision runs on the driver over O(buckets) metadata —
    * no file is opened for a skipped bucket. On a hash-bucketed merge
    * target the high-value query is the INCREMENTAL-SYNC read,
    * "rows with version ≥ last_sync": a bucket not rewritten since
    * last_sync carries its old bounds (max < last_sync) and is
    * skipped, so the scan cost tracks how many buckets recent commits
    * actually touched — on a 10k-bucket table fed narrow micro-batches,
    * a handful — not the table. A full-history window degrades
    * gracefully to reading everything (hash bucketing spreads keys, so
    * per-bucket version bands of long-lived rows are wide; that is the
    * honest limit of version zone maps under hash layout). */
  def readWhereVersionBetween(lo: Long, hi: Long): Option[DataFrame] =
    nonEmptySnapshot().map { s =>
      val chosen = bucketsInRange(s, lo, hi)
      val vc = col(table.versionCol).cast("long")
      if (chosen.isEmpty) emptyWithSchema(schemaOf(s))
      else readDirsDv(s, chosen.values.toSeq.distinct)
        .filter(vc >= lo && vc <= hi)
    }

  /** Pruning audit for [[readWhereVersionBetween]]: (buckets_total,
    * buckets_read, buckets_skipped) at the current version. */
  def pruneAudit(lo: Long, hi: Long): Option[(Int, Int, Int)] =
    nonEmptySnapshot().map { s =>
      val read = bucketsInRange(s, lo, hi).size
      (s.manifest.size, read, s.manifest.size - read)
    }

  /** Per-bucket row counts + owning delta dir of the current snapshot —
    * the operational stats view (bucket skew, file placement). ONE scan
    * of the snapshot (bucket recovered from the file path), not a job
    * per bucket — thousands of buckets is the intended regime. */
  def stats(): Option[DataFrame] =
    nonEmptySnapshot().map { s =>
      import spark.implicits._
      val counts = readDirsWithMeta(s, s.dirs)
        .groupBy(regexp_extract(col(DvFileCol), s"$BucketCol=(\\d+)", 1)
          .cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_rows"))
      s.manifest.toSeq.toDF("bucket", "delta_dir")
        .join(counts, Seq("bucket"), "left_outer")
        .na.fill(0L, Seq("n_rows"))
    }

  /** Compaction: rewrite the current snapshot with exactly one file per
    * bucket — folds tables written with several files per bucket and
    * materializes deletion vectors. One commit, data unchanged. */
  def compact(config: IngestConfig): Unit =
    compactClustered(config, _ => Nil)

  /** Compaction with DATA LAYOUT: one file per bucket, rows inside each
    * file sorted by `clusterBy(snapshot)` — pass a Z-order (Morton) key
    * over the hot filter dimensions ([[graft.ops.Layout.mortonKey]])
    * and parquet's per-row-group min/max statistics become tight
    * multi-dimensional zone maps: a range predicate on EITHER clustered
    * dimension skips most row groups of every file it opens, on top of
    * the bucket pruning the manifest already gives. Same commit
    * semantics as [[compact]]: one version, data unchanged, only the
    * physical order moves. */
  def compactClustered(config: IngestConfig,
      clusterBy: DataFrame => Seq[Column]): Unit = mutate("compact") { s =>
    // reads through the deletion vector, so compaction MATERIALIZES
    // vectored deletes — the rewritten files carry no deleted rows and
    // the old DV entries dangle harmlessly against the retired paths
    if (s.manifest.nonEmpty) {
      val cur = readDirsDv(s, s.dirs)
      val placed = Merge.place(table, cur, config.maxWriterPartitions, s.manifest.keySet)
      commit(s, Some(placed.sortWithinPartitions(col(BucketCol) +: clusterBy(cur): _*)),
        Map.empty)
    }
  }

  /** Bucket-count EVOLUTION: rewrite the current snapshot into a fresh
    * target with a different bucket count — the migration path when a
    * table outgrows its layout (the manifest's `#buckets=` header pins
    * the count per root precisely so this can never happen silently
    * in place; Iceberg likewise requires a rewrite for a bucket-spec
    * change). Reads through the deletion vector (vectored deletes
    * materialize), lands as ONE commit at the destination, and leaves
    * the source untouched — cut over readers, then expire the old
    * root. Merge-contract columns must match; the destination root
    * must be empty. Cost: one full-table read + write, the honest
    * price of a partitioning change at any scale. */
  def rebucketTo(destTable: TargetTable, config: IngestConfig)
      : ParquetTarget = {
    require(destTable.path != table.path,
      "rebucket rewrites into a FRESH root; in-place bucket change is " +
        "exactly what the #buckets manifest pin forbids")
    require(destTable.keyCols == table.keyCols &&
      destTable.versionCol == table.versionCol &&
      destTable.tieBreakCols == table.tieBreakCols,
      "rebucket must keep the merge contract (key/version/tie columns)")
    val dest = new ParquetTarget(spark, destTable)
    require(!dest.exists, s"destination ${destTable.path} already exists")
    read().foreach(snap => dest.mergeUpsert(snap, config))
    dest
  }

  /** Zero-copy snapshot clone (branch): publish a manifest at `destRoot`
    * that names THIS target's committed dirs and deletion vector by
    * ABSOLUTE path, with the same zone bounds — no data bytes move, the clone commits in O(buckets)
    * metadata regardless of table size (the Delta SHALLOW CLONE /
    * Iceberg branch semantic). The clone is a full first-class target:
    * reads serve the shared files; subsequent merges COPY-ON-WRITE —
    * rewritten buckets land under the clone's own root while untouched
    * buckets keep their absolute refs into the source.
    *
    * Caveat (inherent to shallow clones): the source's GC does not know
    * about clone references, so compaction/retention on the SOURCE can
    * delete dirs or vectors a clone still points at — clone from sources
    * whose retention outlives the branch, or compact only the clone.
    * `snapshotAt`'s existence validation turns a violated clone into
    * "no intact version" (loud), never silently partial data. */
  def cloneTo(destRoot: String): Unit = {
    val s = snapshot().getOrElse(throw new IllegalStateException(
      s"cannot clone ${table.name}: no committed version"))
    val dest = new ParquetTarget(spark, table.copy(path = destRoot))
    if (dest.fs.exists(dest.pointer))
      throw new IllegalStateException(
        s"clone destination $destRoot already has a committed table")
    dest.publishVersion(s.copy(version = 1L,
      manifest = s.manifest.map { case (b, d) => b -> new Path(root, d).toString },
      dv = s.dv.map(new Path(root, _).toString)))
  }

  /** Row-level retention delete (TTL / compliance erasure): drop every
    * current row matching `pred` in ONE commit, rewriting ONLY the
    * buckets that contain matching rows — untouched buckets carry their
    * existing dirs into the next manifest unread and unwritten, the
    * same partial-rewrite discipline as a merge. A NULL predicate
    * result KEEPS the row (deletion is the action that must be
    * explicit). No-op (no matching rows) publishes nothing.
    *
    * Scale: one pruned scan to find hit buckets (≤ `table.buckets` ids
    * of driver traffic — the merge path's bound), one scan of ONLY the
    * hit buckets to rewrite survivors; time travel still serves the
    * pre-delete version while `retainVersions` keeps it. */
  def deleteWhere(config: IngestConfig, pred: Column): Unit =
    mutate("delete_where") { s =>
      if (s.manifest.nonEmpty) {
        val cur = readDirsDv(s, s.dirs)
        val matched = cur.filter(coalesce(pred, lit(false)))
        val hitB = Merge.distinctInts(
          matched.select(Merge.bucketOf(table, matched).as(BucketCol)), BucketCol)
        if (hitB.nonEmpty) {
          val hitDirs = s.manifest.filter { case (b, _) => hitB(b) }
          val keep = readDirsDv(s, hitDirs.values.toSeq.distinct)
            .filter(!coalesce(pred, lit(false)))
          commit(s, Some(Merge.place(table, keep, config.maxWriterPartitions, hitB)),
            s.manifest -- hitB)
        }
      }
    }

  /** Merge-on-read delete (DELETION VECTORS): mark every current row
    * matching `pred` deleted by POSITION — (immutable file path, in-file
    * row index) pairs in a parquet deletion vector — and commit a new version
    * whose manifest carries every bucket dir unchanged. NOTHING is
    * rewritten: the commit cost is the predicate scan plus a vector of
    * the matched positions, however many terabytes the matched buckets
    * hold — the Delta/Iceberg deletion-vector contract, and the right
    * half of the write-amplification trade against [[deleteWhere]]
    * (copy-on-write: pay the rewrite now, reads stay raw scans).
    * Every read path applies the vector as an anti-join (merge-on-read,
    * see [[readDirsDv]]); [[compact]] materializes it away. Repeated
    * vectored deletes fold into one cumulative vector. Time travel to a
    * pre-delete version still serves the deleted rows (its applicable
    * manifest names the older vector). A NULL predicate result KEEPS the row,
    * exactly like [[deleteWhere]]; no matches ⇒ no commit. */
  def deleteVectored(config: IngestConfig, pred: Column): Unit =
    mutate("delete_vectored") { s =>
      if (s.manifest.nonEmpty)
        commitDv(s, readDirsWithMeta(s, s.dirs)
          .filter(coalesce(pred, lit(false))))
    }

  /** Key-addressed deletion vectors — [[deleteVectored]]'s merge-shaped
    * twin, and the natural sink for a DELETE stream: mark the positions
    * of every current row whose key appears in `keys`. Bucket-pruned
    * like a merge (only the dirs the key set hashes into are scanned)
    * and broadcast-semi-joined, so a micro-batch of b keys costs
    * O(touched buckets) read and ZERO rewrite. No matches ⇒ no commit
    * (idempotent replay-safe). */
  def deleteVectoredKeys(keys: DataFrame, config: IngestConfig): Unit =
    mutate("delete_vectored") { s =>
      if (s.manifest.nonEmpty) {
        val k = Merge.castTo(keys.select(table.keyCols.map(keys.col): _*), schemaOf(s))
        val dirs = Merge.distinctInts(k.select(Merge.bucketOf(table, k).as(BucketCol)),
          BucketCol).toSeq.flatMap(s.manifest.get).distinct
        if (dirs.nonEmpty)
          commitDv(s, readDirsWithMeta(s, dirs)
            .join(broadcast(k), table.keyCols, "left_semi"))
      }
    }

  /** Fold the positions of `hits` (rows read with their metadata
    * columns) into the snapshot's deletion vector and commit
    * it as a new version carrying every bucket dir unchanged. No hits ⇒
    * no commit. */
  private def commitDv(s: Snapshot, hits: DataFrame): Unit = {
    val matched = hits.select(col(DvFileCol), col(DvPosCol)).persist()
    try {
      if (matched.limit(1).count() > 0) {
        val merged = s.dv.map(readDv(_))
          .map(_.unionByName(matched)).getOrElse(matched).distinct()
        commit(s, None, s.manifest, dvOverride = Some(merged))
      }
    } finally { matched.unpersist(); () }
  }

  private def emptyWithSchema(s: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)

  /** Latest-wins merge of one micro-batch — the analog of the sender task
    * executing `INSERT … ON CONFLICT DO UPDATE` (quick_stream
    * `src/upsert.rs:283-295`), bucket-pruned: only buckets containing
    * batch keys are read and rewritten. */
  def mergeUpsert(batch: DataFrame, config: IngestConfig): Unit =
    merge("upsert", Merge.Change.Upsert, batch, config)

  /** Soft delete (sets `table.softDeleteCol` false). First use migrates
    * the flag column in by rewriting every bucket once, so the snapshot
    * schema stays uniform. */
  def mergeSoftDelete(batch: DataFrame, config: IngestConfig): Unit =
    merge("soft_delete", Merge.Change.SoftDelete, batch, config)

  /** Hard delete (drops the rows). */
  def mergeHardDelete(batch: DataFrame, config: IngestConfig): Unit =
    merge("hard_delete", Merge.Change.HardDelete, batch, config)

  /** The one keyed-merge path: under the lease, with the batch cached
    * (the kernel reads it twice: bucket ids, then the fold), hand the
    * snapshot to [[Merge.rewrite]] and commit the buckets it rewrites,
    * carrying every other bucket over. The slice is read through the
    * deletion vector, so a rewritten bucket cannot resurrect rows a
    * vectored delete marked. With nothing stored (a new table, or one a
    * hard delete emptied) an upsert writes the first buckets on the
    * batch's own schema; a merge that changes nothing publishes nothing. */
  private def merge(op: String, change: Merge.Change, batch: DataFrame,
      config: IngestConfig): Unit = mutate(op) { s =>
    val cached = batch.persist()
    try {
      val stored = if (s.manifest.isEmpty) None else Some(schemaOf(s))
      Merge.rewrite(table, change, cached, stored, s.manifest.keySet,
        bs => readDirsDv(s, bs.flatMap(s.manifest.get).distinct),
        config.maxWriterPartitions)
        .foreach(r => commit(s, Some(r.rows), s.manifest -- r.buckets))
    } finally { cached.unpersist(); () }
  }

  /** Run mutator `op` under the writer lease against the committed
    * snapshot (version 0 with no buckets before the first commit), every
    * Spark job it starts tagged with the version it would publish
    * ([[withOpTag]]). */
  private def mutate(op: String)(f: Snapshot => Unit): Unit = withCommitLock {
    val s = snapshot().getOrElse(Snapshot(0L, Map.empty))
    withOpTag(op, s.version + 1L)(f(s))
  }

  /** Run `f` with the local property [[ParquetTarget.OpKey]] set to
    * `<table>:<op>:<version>`, so every Spark job it starts names the
    * operation in the event log, the UI and any listener; the caller's
    * previous value is restored afterwards. */
  private def withOpTag[A](op: String, version: Long)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, s"${table.name}:$op:$version")
    try f finally sc.setLocalProperty(OpKey, prev)
  }

  /** Single-writer lease: the manifest protocol assumes one writer per
    * target (two concurrent streams could both read version N and publish
    * competing N+1 manifests, silently losing one committed merge — the
    * Postgres reference gets this from DB transactions). A create-exclusive
    * `_LOCK` file makes contention fail LOUD instead. The lease wraps the
    * WHOLE merge (manifest read → merge → commit), not just the commit —
    * a commit-only lease would still let a writer that read version N
    * before another's commit publish a manifest carrying stale bucket
    * references, silently clobbering the other's merge without the leases
    * ever overlapping. A crash inside the lease leaves it stale; recovery
    * is explicit via [[breakLock]] after confirming no writer is alive —
    * never automatic, because auto-expiry would re-open the silent-clobber
    * window.
    *
    * Atomicity caveat: `create(path, overwrite=false)` is atomic on HDFS
    * (and kin) but check-then-create on RawLocalFileSystem and
    * object-store connectors (S3A), where two racing writers can both
    * "succeed". On atomic filesystems the lease alone is mutual
    * exclusion and the commit pays nothing extra. Elsewhere the lease
    * writes a unique token and reads it back — the overwrite race
    * resolves last-writer-wins, the loser sees a foreign token and
    * aborts, so at most one writer proceeds. This narrows the race
    * rather than closing it (two racers can each read back their own
    * token before the other's overwrite lands) — for genuinely
    * concurrent multi-writer deployments on object stores, front the
    * target with external coordination (the reference gets this from
    * Postgres transactions; see src/upsert.rs:209-269). */
  private def withCommitLock[A](f: => A): A = {
    val token =
      s"${java.util.UUID.randomUUID()}:${System.nanoTime()}".getBytes("UTF-8")
    val out =
      try fs.create(lockPath, false)
      catch { case e: java.io.IOException =>
        throw new IllegalStateException(
          s"cannot acquire writer lease $lockPath for target ${table.name}: " +
            "ParquetTarget is single-writer (route upserts and deletes " +
            "through one stream); if the previous writer crashed mid-commit, " +
            "call breakLock() after confirming it is dead", e)
      }
    // A failed token write must not orphan the just-created lease file —
    // that would wedge every later writer until a manual breakLock().
    try { try { out.write(token); out.hsync() } finally out.close() }
    catch { case e: Throwable => fs.delete(lockPath, false); throw e }
    if (!atomicCreateExclusive) {
      warnNonAtomicOnce()
      onLeaseSettle()
      val readBack = {
        val in = fs.open(lockPath)
        try { // read to EOF: a single read() may legally return short
          val buf = new java.io.ByteArrayOutputStream(token.length + 16)
          val b = new Array[Byte](256)
          var n = in.read(b)
          while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
          buf.toByteArray
        } finally in.close()
      }
      if (!java.util.Arrays.equals(readBack, token))
        throw new IllegalStateException(
          s"writer lease $lockPath for target ${table.name} was overwritten " +
            "by a concurrent writer (non-atomic create-exclusive on this " +
            "filesystem); aborting without committing")
    }
    try f finally { fs.delete(lockPath, false); () }
  }

  /** Whether this target's filesystem guarantees an atomic
    * create-exclusive, making the lease's post-write token verification
    * redundant. HDFS-family namenode creates are atomic; RawLocalFileSystem
    * and object-store connectors are check-then-create. */
  private def atomicCreateExclusive: Boolean =
    Set("hdfs", "viewfs", "webhdfs", "swebhdfs").contains(fs.getUri.getScheme)

  /** One warning per target instance: on a non-atomic store, two racers
    * that both pass create() will each likely read back their own token
    * before the other's overwrite lands — fine for the supported
    * single-writer contract, worth a trace if a second writer does exist. */
  private lazy val warnNonAtomicOnce: () => Unit = {
    org.slf4j.LoggerFactory.getLogger(classOf[ParquetTarget]).warn(
      "target {}: filesystem scheme '{}' has non-atomic create-exclusive — " +
        "the writer-lease token verification cannot catch a concurrent " +
        "writer reliably; this is fine for single-writer deployments, " +
        "otherwise front the target with external coordination",
      table.name, fs.getUri.getScheme)
    () => ()
  }

  /** Test seam: runs at the settle point of the non-atomic lease path —
    * after the token write closes, before the read-back. A no-op by
    * default; specs replace it to sequence a racing overwrite
    * deterministically instead of timing a racer thread. */
  private[graft] var onLeaseSettle: () => Unit = () => ()

  /** Remove a stale writer lease left by a crash (see [[withCommitLock]]). */
  def breakLock(): Unit = { fs.delete(lockPath, false); () }

  /** Explicit schema migration: applies `transform` to the full current
    * snapshot and rewrites EVERY bucket in one commit, keeping the
    * uniform-snapshot-schema invariant (all referenced files share one
    * schema). This is the deliberate path for widening/adding/dropping
    * payload columns — implicit widening on merge stays rejected
    * (Merge.conform fails loud) so a misconfigured upstream can't mutate
    * the table by accident. Merge-contract columns (keys + ordering) must
    * survive the transform. No-op on an empty/absent target. */
  def migrate(config: IngestConfig)(transform: DataFrame => DataFrame): Unit =
    mutate("migrate") { s =>
      if (s.manifest.nonEmpty) {
        val out = transform(readDirsDv(s, s.dirs))
        val missing =
          (table.keyCols ++ table.orderingCols).diff(out.columns.toSeq)
        require(missing.isEmpty,
          s"migration dropped merge-contract columns: ${missing.mkString(", ")}")
        commit(s, Some(Merge.place(table, out, config.maxWriterPartitions,
          (0 until table.buckets).toSet)),
          Map.empty)
      }
    }

  /** Write `placed` — rows with their bucket column, one task per bucket
    * ([[Merge.place]], [[Merge.rewrite]]) — under the delta dir of the
    * version after `base`, ONE zstd file per bucket, then publish
    * (carried-over ++ written) buckets as that version. None writes no
    * delta; `dvOverride` (a vectored delete) writes the version's
    * deletion vector, and every other commit names its base's. The data
    * fully materializes before any existing state is referenced or
    * touched (we may be reading dirs we're superseding). Callers hold the
    * `_LOCK` lease (every public mutator runs through [[mutate]]) and pass
    * the snapshot they resolved under it. */
  private def commit(
      base: Snapshot, placed: Option[DataFrame], carryOver: Map[Int, String],
      dvOverride: Option[DataFrame] = None): Unit = {
    val next = base.version + 1L
    val delta = nameOf('d', next)
    val deltaPath = new Path(root, delta)
    // Buckets actually written (an empty merge output writes none).
    val written: Map[Int, String] = placed.fold(Map.empty[Int, String]) { p =>
      p.drop(Merge.TaskCol).write.partitionBy(BucketCol).option("compression", Codec)
        .mode("overwrite").parquet(deltaPath.toString)
      fs.listStatus(deltaPath).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(s"$BucketCol="))
        .map(n => n.stripPrefix(s"$BucketCol=").toInt -> s"$delta/$n")
        .toMap
    }
    // Footers of the written files, read once on the driver: one seeds the
    // schema cache for `next`, all of them give the zone bounds.
    val footers = written.map { case (b, d) => b -> dataFiles(d).map(f => f -> footer(f)) }
    footers.values.flatten.headOption.foreach { case (f, meta) =>
      cacheSchema(next, GraftSql.parquetSchema(spark, f, meta))
    }

    // Zone bounds (per-bucket min/max of the version column, for
    // data-skipping range reads): bounds of the written buckets come from
    // their files' footer statistics, the base's bounds carry over for
    // carried-over buckets (their files did not change). A bucket without
    // statistics gets no bound, which only disables its pruning.
    // Non-integral version columns get no bounds.
    val zones = placed match {
      case None => base.zones
      case Some(p) if p.schema.find(_.name == table.versionCol).exists(_.dataType match {
          case LongType | IntegerType | ShortType | ByteType => true
          case _ => false
        }) =>
        base.zones.filter { case (b, _) => carryOver.contains(b) } ++
          footers.flatMap { case (b, files) => versionBounds(files.map(_._2)).map(b -> _) }
      case Some(_) => Map.empty[Int, (Long, Long)]
    }

    // Deletion vector, written before the manifest that names it (an
    // orphan from a crash is named by no manifest, and GC removes it).
    // SHARDED by the bucket each marked file belongs to (parsed from its
    // key) so a corpus-wide predicate delete fans out across writer
    // tasks instead of funnelling one coalesced task, and bucket-scoped
    // readers partition-prune the vector to their shards ([[readDv]]).
    val dv = dvOverride.map { marks =>
      marks.withColumn(DvBucketCol,
          regexp_extract(col(DvFileCol), s"$BucketCol=(\\d+)", 1)
            .cast("int"))
        .repartition(col(DvBucketCol))
        .write.partitionBy(DvBucketCol).mode("overwrite")
        .parquet(pathOf('x', next).toString)
      nameOf('x', next)
    }.orElse(base.dv)
    publishVersion(Snapshot(next, carryOver ++ written, dv, zones))
  }

  /** [min, max] of the version column over every row group of `files`,
    * from their footer statistics; None when a row group holding values
    * has no statistics (unknown bounds: the bucket is always read). */
  private def versionBounds(files: Seq[ParquetMetadata]): Option[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val chunks = files.flatMap(_.getBlocks.asScala).filter(_.getRowCount > 0).map(
      _.getColumns.asScala.find(_.getPath.toDotString == table.versionCol).map(_.getStatistics))
    val values = chunks.flatten.filter(_.hasNonNullValue)
    if (chunks.exists(_.forall(_.isEmpty)) || values.isEmpty) None
    else Some((values.map(_.genericGetMin.asInstanceOf[Number].longValue).min,
      values.map(_.genericGetMax.asInstanceOf[Number].longValue).max))
  }

  /** Make snapshot `s` current: its manifest, the `_LATEST` repoint,
    * then GC. The only writer of manifests and of `_LATEST`. A deletion
    * vector lands before the manifest that names it, so an orphan from a
    * crashed publish is unreachable. Crash between manifest and repoint:
    * the intact pointer still names the previous version, the replayed
    * micro-batch re-merges idempotently onto it and republishes this
    * version over the orphan; pointer lost too: recovery scans to the
    * highest intact manifest — this one. GC then drops manifests older
    * than the retention window and bucket dirs and vectors no RETAINED
    * manifest names (readers resolved against any retained version keep
    * their files; retainVersions = 1 keeps only `s`). */
  private def publishVersion(s: Snapshot): Unit = {
    val lines = Seq(s"#buckets=${table.buckets}", s"#dv=${s.dv.getOrElse("")}") ++
      s.zones.toSeq.sortBy(_._1).map { case (b, (mn, mx)) => s"#zone=$b\t$mn\t$mx" } ++
      s.manifest.toSeq.sortBy(_._1).map { case (b, d) => s"$b\t$d" }
    MetaFile.publish(fs, pathOf('m', s.version), lines.mkString("\n"))
    MetaFile.publish(fs, pointer, nameOf('m', s.version))
    gcRetained(s, table.retainVersions)
  }

  /** Explicit snapshot expiry — the on-demand VACUUM twin of the
    * per-commit GC (Iceberg `expire_snapshots` / Delta `VACUUM`):
    * shrink the LIVE retention window to `keep` versions without
    * writing any data. Same rules as commit-time GC — a bucket dir
    * or deletion vector survives iff some retained manifest still names
    * it — so a crash mid-expiry leaves
    * a superset of the retained state (idempotent; rerun to finish).
    * Time travel to an expired version returns None afterwards; every
    * retained version stays byte-identical. No-op (0 removed) when the
    * table already holds ≤ `keep` versions or does not exist. Returns
    * (versions_before, versions_after). */
  def expireSnapshots(keep: Int): (Long, Long) = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val before = versions().size.toLong
    snapshot().foreach(gcRetained(_, keep))
    (before, versions().size.toLong)
  }

  /** Metadata-only ROLLBACK (Iceberg `rollback_to_snapshot`): republish
    * version `v`'s snapshot — bucket dirs, deletion vector and zone bounds
    * — as a NEW commit. No data file is rewritten or deleted — the bad
    * commits stay in history for audit until GC ages them out — and the
    * new current state is bit-identical to `readVersion(v)`. O(metadata)
    * cost: one manifest, zero data IO — the property that makes rollback
    * instant at 100 TB. */
  def rollbackTo(v: Long): Unit = mutate("rollback") { s =>
    if (s.version == 0L) throw new IllegalStateException("rollback on an empty target")
    require(v >= 1 && v <= s.version, s"version $v out of range 1..${s.version}")
    val restored = snapshotAt(v)
    require(restored.isDefined,
      s"version $v is expired or references GC'd files — cannot roll back")
    publishVersion(restored.get.copy(version = s.version + 1L))
  }

  /** Shared GC kernel: retain `retain` versions ending at `newest`;
    * delete every older manifest (and `z` file of a manifest written
    * before manifests held zone bounds), and every bucket dir and
    * deletion vector no retained manifest names. */
  private def gcRetained(newest: Snapshot, retain: Int): Unit = {
    val oldestKept = newest.version - retain + 1
    val referenced = (newest +: (oldestKept until newest.version).flatMap(snapshotAt))
      .flatMap(k => k.dirs ++ k.dv).toSet
    listVersioned().foreach {
      case ('m' | 'z', v, path) if v < oldestKept => fs.delete(path, false)
      case ('x', _, path) if !referenced(path.getName) => fs.delete(path, true)
      case ('d', _, path) =>
        val n = path.getName
        fs.listStatus(path).toSeq.map(_.getPath)
          .filter(_.getName.startsWith(s"$BucketCol="))
          .foreach { b =>
            if (!referenced.contains(s"$n/${b.getName}")) fs.delete(b, true)
          }
        if (!fs.listStatus(path).exists(_.getPath.getName.startsWith(s"$BucketCol=")))
          fs.delete(path, true)
      case _ =>
    }
  }
}

object ParquetTarget {
  /** Local property naming the operation behind each Spark job a target
    * starts: `<table>:<op>:<version>`, op one of upsert, soft_delete,
    * hard_delete, compact, delete_where, delete_vectored, migrate,
    * rollback, changes, lookup; version is the one a mutator publishes,
    * `toVersion` for a change feed, the version read for a lookup's
    * key collect. */
  val OpKey = "graft.op"

  /** Data-file codec: a constant of the writer, not a setting. zstd
    * writes about half the bytes of snappy on the target's row shapes at
    * the same write and point-read time. */
  private val Codec = "zstd"

  /** One committed version, as its manifest names it: bucket -> dir, the
    * deletion vector's dir (relative to the root or absolute) if any, and
    * the version-column bounds of the buckets that have them. Version 0
    * with no entries stands for "nothing committed yet". */
  private final case class Snapshot(version: Long, manifest: Map[Int, String],
      dv: Option[String] = None, zones: Map[Int, (Long, Long)] = Map.empty) {
    def dirs: Seq[String] = manifest.values.toSeq.distinct
  }
}
