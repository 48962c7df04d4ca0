package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Diagnostics main. One session from [[Sessions.local]], so the plans
  * it prints and the times it takes are the ones Bench sees:
  *
  *  - `runMain graft.Diag explain <q1,q2,...> [sfDir] [outDir]` prints
  *    each battery entry's formatted physical plan: pushdown
  *    (PushedFilters/ReadSchema), join strategy (broadcast vs
  *    shuffle), WholeStageCodegen spans.
  *  - `runMain graft.Diag plan <name,...> [sfDir] [outDir]` prints the
  *    plan of an operator's LAZY internal pipeline ([[pipelines]]):
  *    operators whose public entry materializes eagerly
  *    (localCheckpoint) explain as a useless RDD-scan stub.
  *  - `runMain graft.Diag time <q1,q2,...> [sfDir] [reps=3]` runs each
  *    entry `reps` times through the noop sink and prints every wall
  *    time: first-run fixed cost (codegen, footer reads) against the
  *    steady-state cost a long-lived cluster would see.
  *
  * sfDir defaults to SPARK_GRAFT_SF_DIR, as in Bench (exit 2 when
  * neither is given). With outDir each
  * plan is also written to `<outDir>/<name>.txt`. An unknown name
  * exits 2 and lists the names the mode knows.
  */
object Diag {
  /** Lazy rebuilds of eagerly materializing operator pipelines, the
    * same trick PlanSpec uses for its shape pins. */
  val pipelines: Map[String, (SparkSession, String) => DataFrame] = Map(
    // p86's scoring pipeline (the public adamicAdarTopK checkpoints)
    "p86_adamic_adar_scored" -> { (s, dir) =>
      val und = graft.queries.QueryUtil.tbl(s, dir, "lineitem")
        .select(col("l_orderkey").as("__u"), col("l_partkey").as("__v"))
        .filter(col("__u") =!= col("__v")).distinct()
      graft.operators.Graph.adamicAdarScored(und, 64, 50)
    })

  def main(args: Array[String]): Unit = {
    val catalogs = Map("explain" -> SparkEntry.queries, "plan" -> pipelines,
      "time" -> SparkEntry.queries)
    if (args.length < 2 || !catalogs.contains(args(0))) {
      System.err.println(
        "usage: graft.Diag <explain|plan|time> <names> [sfDir] [outDir|reps]")
      sys.exit(2)
    }
    val mode = args(0)
    val known = catalogs(mode)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(known.contains)
    if (names.isEmpty || unknown.nonEmpty) {
      System.err.println(s"unknown $mode names: ${unknown.mkString(", ")}")
      System.err.println("available: " + known.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    val sfDir = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse {
      System.err.println("no sfDir argument and SPARK_GRAFT_SF_DIR is unset")
      sys.exit(2)
    }
    val reps = if (mode == "time") args.lift(3).fold(3)(_.toInt) else 0
    val outDir = if (mode == "time") None else args.lift(3)
    outDir.foreach(d => new java.io.File(d).mkdirs())

    val spark = Sessions.local()
    if (mode == "time") Bench.warmUp(spark, sfDir)
    names.foreach { name =>
      val fn = known(name)
      if (mode == "time") {
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          // a failing rep records the failure and moves on
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            System.err.println(s"[diag] $name failed: ${e.getMessage}")
          }
          (System.nanoTime() - t0) / 1e9
        }
        println(f"$name: ${times.map(t => f"$t%.2f").mkString(" ")} s")
      } else {
        val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        println(s"==== $name ====")
        println(txt)
        outDir.foreach { d =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$d/$name.txt"), txt)
        }
      }
      // operators that persist/localCheckpoint leave state behind —
      // clear it so the next entry starts clean
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
