package ingestbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, NoSuchFileException, Path}

import scala.collection.mutable

/** Measurement maths shared by every workload: percentiles, the
  * file-source log parser that maps staged files to micro-batches,
  * freshness and backlog from release/commit times, and write
  * amplification from directory listings; [[SelfTest]] covers each. */
object Stats {

  /** The fixed tail percentile of every `_tail_` metric (stated in
    * ingestbench/README.md): what the tail rule gives for the smallest
    * independent sample count a gated run normally has. */
  val TailPct = 60.0
  /** Percentiles the tail rule chooses among. */
  val TailCandidates: Seq[Double] = Seq(50.0, 60.0, 75.0, 90.0, 95.0, 99.0)

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  /** The middle sample, or the mean of the two middle samples when the
    * count is even (unlike a nearest-rank p50, two samples give their
    * mean, not the smaller one). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Samples strictly beyond the nearest-rank `p` percentile of `n`. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  /** The tail rule: the highest candidate percentile that leaves at least
    * `minBeyond` samples beyond it; None when no candidate does. */
  def tailPercentile(n: Int, candidates: Seq[Double],
      minBeyond: Int = 10): Option[Double] =
    candidates.sorted.reverse.find(p => beyond(n, p) >= minBeyond)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Reads a file-stream source's metadata log (`<checkpoint>/sources/0`):
  * one file per batch (`<id>`) or compacted (`<id>.compact`), a `v1`
  * header line, then one JSON entry per admitted file carrying its path
  * and batch id. */
object SourceLog {
  private val Entry =
    """"path"\s*:\s*"([^"]+)".*?"batchId"\s*:\s*(\d+)""".r

  /** Staged file name (last path segment) -> micro-batch id. */
  def fileBatches(dir: File): Map[String, Long] = {
    val logs = Option(dir.listFiles).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.matches("""\d+(\.compact)?"""))
    logs.toSeq.flatMap { f =>
      val lines = try Files.readAllLines(f.toPath, StandardCharsets.UTF_8)
        catch { case _: NoSuchFileException => java.util.Collections.emptyList[String]() }
      import scala.jdk.CollectionConverters._
      lines.asScala.drop(1).flatMap(l => Entry.findFirstMatchIn(l).map { m =>
        m.group(1).split('/').last -> m.group(2).toLong
      })
    }.toMap
  }
}

object Freshness {

  /** Per released file: the time its batch's sink call returned minus
    * the file's scheduled release time. Left(reason) when a released
    * file never reached a batch or its batch never returned. */
  def perFile(
      scheduled: Map[String, Double],
      fileBatch: Map[String, Long],
      batchDone: Map[Long, Double]): Either[String, Map[String, Double]] = {
    val out = scheduled.map { case (f, due) =>
      fileBatch.get(f) match {
        case None => return Left(s"released file $f is in no committed batch")
        case Some(b) => batchDone.get(b) match {
          case None => return Left(s"batch $b (file $f) has no returned sink call")
          case Some(done) => f -> (done - due)
        }
      }
    }
    Right(out)
  }

  /** Files released but not yet committed, sampled every `stepMs` over
    * [t0, t1]: mean of the last third minus mean of the first third. */
  def backlogGrowth(releases: Seq[Double], commits: Seq[Double],
      t0: Double, t1: Double, stepMs: Double = 100.0): Double = {
    val rs = releases.sorted.toArray
    val cs = commits.sorted.toArray
    def upTo(a: Array[Double], t: Double): Int = {
      var lo = 0; var hi = a.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) <= t) lo = m + 1 else hi = m }
      lo
    }
    val n = math.max(3, ((t1 - t0) / stepMs).toInt)
    val samples = (0 until n).map { i =>
      val t = t0 + (t1 - t0) * i / (n - 1)
      (upTo(rs, t) - upTo(cs, t)).toDouble
    }
    val third = n / 3
    Stats.mean(samples.takeRight(third)) - Stats.mean(samples.take(third))
  }
}

/** Write accounting by listing: every regular file under the roots is
  * keyed by (path, mtime, size); a key not seen before counts its size
  * as newly written bytes. Polling more often than files are replaced
  * sees every version of a rewritten file (`_LATEST`) and every file GC
  * removes later. Writers' scratch paths (`_temporary`, `*.tmp`) are
  * skipped: their bytes reappear under the final name. */
final class DirWatcher(roots: Seq[Path]) {
  private val seen = mutable.HashSet.empty[(String, Long, Long)]
  private var bytes = 0L
  private val fresh = mutable.ArrayBuffer.empty[String]

  private def scan(count: Boolean): Unit = synchronized {
    roots.filter(Files.exists(_)).foreach { root =>
      val stream = Files.walk(root)
      try stream.forEach { p =>
        val s = p.toString
        if (!s.contains("_temporary") && !s.endsWith(".tmp") &&
            Files.isRegularFile(p)) {
          try {
            val key = (s, Files.getLastModifiedTime(p).toMillis, Files.size(p))
            if (seen.add(key) && count) { bytes += key._3; fresh += s }
          } catch { case _: NoSuchFileException => () }
        }
      } catch {
        case _: java.io.UncheckedIOException => () // a dir vanished mid-walk (GC)
      } finally stream.close()
    }
  }

  /** Mark what exists now as pre-existing (not counted). */
  def baseline(): Unit = scan(count = false)
  def poll(): Unit = scan(count = true)
  def newBytes: Long = synchronized(bytes)
  def newFiles: Long = synchronized(fresh.size.toLong)
  /** Paths of the newly written files (one entry per new version). */
  def newPaths: Seq[String] = synchronized(fresh.toSeq)

  /** Bucket-dir rewrites per (commit × bucket count): distinct
    * `d<version>/__graft_bucket=<b>` dirs among new files over the
    * number of new manifests. */
  def bucketTouchRatio(buckets: Int): Double = {
    val ps = newPaths
    val commits = ps.count(p => p.split('/').last.matches("m\\d{10}"))
    val rewrites = ps.flatMap(p => "(.*/d\\d{10}/__graft_bucket=\\d+)/".r.findFirstMatchIn(p).map(_.group(1))).distinct.size
    if (commits == 0) 0.0 else rewrites.toDouble / (commits.toDouble * buckets)
  }
}

object Proc {
  /** Peak resident set of this JVM (`VmHWM`), MiB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach { f =>
      try Files.delete(f) catch { case _: java.io.IOException => () }
    } finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try {
      var n = 0L
      s.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f))
      n
    } finally s.close()
  }
}
