package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump `only` (or all) gates over sfDir into outDir: one parquet dir
    * per gate, `oracle_sql.json` for the DuckDB side, `_failed.json`
    * for gates that threw (round-7 lesson: an erred gate must surface
    * as a red row, not a silent absence). */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n))
    }
    val failed = collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failedJson)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.engine.GraftSession.local("graft-verify", cpus.toInt)
    // GRAFT_ONLY=name1,name2 restricts the dump for fast local
    // iteration; the driver never sets it, so driver runs stay full.
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").toSet)
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }
}
