package graft

import graft.engine.GraftEngine
import graft.wire.MysqlServer

/** Network entry point: serve the engine over the MySQL wire
  * protocol, the reference's deployment shape (`/root/reference/
  * src/main.rs:88-99` binds 0.0.0.0:3307 and announces MySQL
  * 8.0.25). Any MySQL-protocol client can connect and run the
  * engine's full statement surface; each connection gets its own
  * session (current schema + prepared statements).
  *
  * Usage: runMain graft.ServeMain [warehouseDir] [port]
  * (default /tmp/graft_warehouse, 3307 — the reference's port).
  */
object ServeMain {
  def main(args: Array[String]): Unit = {
    val warehouse = args.lift(0).getOrElse("/tmp/graft_warehouse")
    val port = args.lift(1).map(_.toInt).getOrElse(3307)
    val spark = Sessions.local()
    val engine = new GraftEngine(spark, warehouse)
    val server = new MysqlServer(engine, port)
    println(s"graft: serving MySQL protocol on port ${server.boundPort} " +
      s"(warehouse $warehouse)")
    Thread.currentThread().join() // serve until killed
  }
}
