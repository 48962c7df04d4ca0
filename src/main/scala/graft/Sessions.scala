package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main gets its session
  * from [[local]], so the plans a diagnostic prints are the plans the
  * bench times; [[clusterTuned]] is the same base with the knobs for
  * a large cluster.
  */
object Sessions {

  private val base = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** The confs [[local]] sets. `overlay` is SPARK_GRAFT_SPARK_CONF's
    * `k=v;k=v` form (e.g. advisory partition sizes for a real cluster),
    * applied last so it overrides the defaults; entries without `=`
    * are ignored. */
  def localConf(cores: Int, overlay: Option[String]): Map[String, String] =
    base ++ Map(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString) ++
      overlay.toSeq.flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
        .map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k.trim -> v.trim
        }

  /** Local session on `cores` threads (SPARK_GRAFT_CPUS, default 4),
    * `cores` shuffle partitions, UTC, no UI, log level WARN, plus the
    * `overlay` (SPARK_GRAFT_SPARK_CONF by default; specs pass `None`
    * so a tuning overlay left in the shell cannot reach them). */
  def local(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt,
      overlay: Option[String] = sys.env.get("SPARK_GRAFT_SPARK_CONF"))
      : SparkSession = {
    val spark = SparkSession.builder()
      .config(localConf(cores, overlay))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cluster-shaped tuning for the ~100 TB target. Notes on each
    * knob, since the values are the design, not incidental:
    *
    *  - shuffle.partitions ≈ 2-3× total executor cores as the
    *    *initial* value; AQE (on by default) coalesces small
    *    partitions after each stage, so erring high costs little and
    *    avoids 2 GB-per-partition shuffle failures on the big joins.
    *  - files.maxPartitionBytes 256m: scan tasks sized so a full
    *    row-group batch plus join build side fits executor memory.
    *  - skewJoin: runtime re-planning splits skewed partitions — the
    *    salting helper (operators.Skew) is for skewed *aggregations*,
    *    which AQE does not rebalance.
    *  - autoBroadcastJoinThreshold 64m: every TPC-H-shaped dimension
    *    (region/nation/customer/supplier/part at any realistic scale
    *    of dims-vs-facts) broadcasts; the fact table never moves
    *    before its partial aggregate.
    *  - nanosAsLong + no NTZ inference are scan requirements for this
    *    corpus: oracle parquet may spell timestamps as NANOS or as
    *    µs-without-UTC-flag; both read as plain TIMESTAMP.
    */
  def clusterTuned(builder: SparkSession.Builder,
      totalCores: Int): SparkSession.Builder =
    builder.config(base)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.shuffle.partitions", math.max(totalCores * 2, 200))
      .config("spark.sql.files.maxPartitionBytes", "256m")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
}
