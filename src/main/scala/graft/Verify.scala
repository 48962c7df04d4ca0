package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local()
    // optional dev-loop filter: SPARK_GRAFT_ONLY=q21_ntile_pct,p05_...
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    dump(spark, sfDir, outDir,
      SparkEntry.queries.filter(kv => only.forall(_.contains(kv._1))).toSeq)
    writeOracle(outDir, _ => true)
    spark.stop()
  }

  /** Writes each entry's result to `<outDir>/<name>` as one parquet
    * file and returns the names that threw. The target is deleted
    * before each entry runs, and a failed entry leaves it as an empty
    * directory: scripts/check.py hashes every directory in outDir and
    * reports an empty one as "no spark output", so a failure can
    * neither pass on the previous run's parquet nor drop out of the
    * compare. `done` gets each successful entry's seconds. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      entries: Seq[(String, (SparkSession, String) => DataFrame)],
      done: (String, Double) => Unit = (_, _) => ()): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(); ()
    }
    entries.flatMap { case (name, fn) =>
      val target = new java.io.File(s"$outDir/$name")
      rmrf(target)
      val t0 = System.nanoTime()
      val failed =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(target.getPath)
          done(name, (System.nanoTime() - t0) / 1e9)
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          rmrf(target)
          target.mkdirs()
          Some(name)
        }
      // drop persist()ed frames so cached blocks from one query don't
      // build up eviction/GC pressure over the rest of the battery
      spark.catalog.clearCache()
      failed
    }
  }

  /** Writes `<outDir>/oracle_sql.json` for the entries `keep` admits. */
  def writeOracle(outDir: String, keep: String => Boolean): Unit = {
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in an oracle's SQL would otherwise make
    * the checker's json.load fail and silently zero the correctness
    * compare. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
