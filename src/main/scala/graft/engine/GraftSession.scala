package graft.engine

import org.apache.spark.sql.SparkSession

/** Opinionated session factory encoding the engine's scale posture — the
  * one place the recommended cluster knobs live so every entry point
  * (mains, notebooks, jobs) starts from the same footing.
  *
  * What it sets and why:
  *  - AQE + skew-join + partition coalescing: runtime re-planning fixes
  *    what static planning can't know (skewed merge keys, band-bucket
  *    hot spots, post-filter size collapse).
  *  - shuffle partitions sized to the core count given here (a local
  *    default) — on a real cluster pass the executor-core total, or
  *    leave AQE's coalescing to trim over-partitioning.
  *  - UTC session timezone: the engine's timestamp contract (epoch-micro
  *    columns everywhere) assumes it.
  *  - graft SQL functions registered via the extensions mechanism.
  *
  * The streaming state store stays Spark's default: on the s1/s2 bench
  * queries at sf0.1 (4 warm reps each) RocksDB and the in-memory
  * HDFS-backed store are within noise of each other — the stream cost is
  * micro-batch machinery + the target merge, not state access. For
  * large-state production streams (per-key state no longer fits the
  * heap) set `spark.sql.streaming.stateStore.providerClass` to
  * `org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
  * on the builder [[builder]] returns.
  */
object GraftSession {

  def builder(appName: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")

  /** Local session for tests/benches: `local[cores]`, UI off. */
  def local(appName: String, cores: Int): SparkSession = {
    val s = builder(appName, cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
