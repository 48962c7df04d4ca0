package graft

import graft.engine._

/** CLI entry for the SQL engine: executes `;`-separated statements
  * from argv (or stdin with no args) against a warehouse directory,
  * printing result tables / affected counts — the same surface the
  * reference exposes over the MySQL wire protocol, minus the socket.
  *
  * Usage:
  *   runMain graft.EngineMain <warehouseDir> "create schema s; use s; ..."
  *   echo "show databases;" | runMain graft.EngineMain <warehouseDir>
  */
object EngineMain {
  def main(args: Array[String]): Unit = {
    val warehouse = args.headOption.getOrElse("/tmp/graft_warehouse")
    val script =
      if (args.length > 1) args.drop(1).mkString(" ")
      else scala.io.Source.stdin.mkString
    val spark = Sessions.local()
    val engine = new GraftEngine(spark, warehouse)
    SqlText.splitTopLevel(script, ';').foreach { stmt =>
      println(s"graft> $stmt")
      try engine.sql(stmt) match {
        case AffectedRows(n) => println(s"OK, $n row(s) affected")
        case ResultSet(df) => df.show(100, truncate = false)
      } catch {
        case GraftException(code, msg) => println(s"ERROR $code: $msg")
      }
    }
    spark.stop()
  }
}
