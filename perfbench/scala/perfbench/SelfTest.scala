package perfbench

import java.io.File

/** The harness's own checks, against a live engine and MysqlServer:
  * the MySQL client's handshake, text rows, OK, ERR and COM_PING; the
  * failure accounting (an injected failing statement and an injected
  * wrong answer must both count as failed); and the traced layer path.
  *
  * Usage: perfbench.SelfTest --work <dir> --cpus <n>
  */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(m("work")); work.mkdirs()
    val a = Args("selftest", 1L, 1, trace = false, "", work.getPath, "",
      m.getOrElse("cpus", "2").toInt)
    val spark = Main.session(a)
    val ctx = new Ctx(a, spark)
    var failures = List.empty[String]
    def check(name: String)(cond: => Boolean): Unit = {
      val ok = try cond catch { case e: Throwable => println(s"[selftest] $name: $e"); false }
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name")
      if (!ok) failures ::= name
    }

    val engine = Layers.openEngine(ctx, new File(work, "wh"), Nil)
    engine.sql("create table t (a int, b char)")
    engine.sql("insert into t values (1, 'x'), (2, NULL), (3, 'z')")
    val server = Layers.serve(engine)
    val c = Layers.connect(server)
    try {
      check("handshake returns the connection id") { c.connectionId > 0 }
      check("COM_PING") { c.ping(); true }
      check("text rows, with NULL") {
        c.query("select a, b from t order by a").rows ==
          Vector(IndexedSeq("1", "x"), IndexedSeq("2", null), IndexedSeq("3", "z"))
      }
      check("OK packet carries affected rows") {
        c.query("insert into t values (4, 'w')").affected == 1
      }
      check("ERR packet raises MysqlError with its code") {
        try { c.query("select * from no_such_table"); false }
        catch { case MiniMysql.MysqlError(code, _) => code == 1146 }
      }
      check("connection stays usable after ERR") {
        c.query("select count(*) from t").rows == Vector(IndexedSeq("4"))
      }
      check("a 50000-row result streams intact") {
        val r = c.query("select explode(sequence(1, 50000)) as x")
        r.rows.size == 50000 && r.rows.last == IndexedSeq("50000") &&
          r.bytes > 50000 && r.firstNs > 0 && r.streamNs > 0
      }

      // failure accounting, through the path every workload uses
      Layers.timedQuery(ctx, c, "good", 0, "select a from t where a = 1")(_ => None)
      Layers.timedQuery(ctx, c, "failing", 1, "select * from no_such_table")(_ => None)
      Layers.timedQuery(ctx, c, "wrong", 2, "select a from t where a = 1") { r =>
        if (r.rows == Vector(IndexedSeq("2"))) None else Some("injected: expected 2")
      }
      val ops = ctx.allOps
      check("an injected failing statement counts as failed") {
        ops.exists(o => o.cls == "failing" && !o.ok && o.err.contains("1146"))
      }
      check("an injected wrong answer counts as failed") {
        ops.exists(o => o.cls == "wrong" && !o.ok && o.err.startsWith("injected"))
      }
      check("a correct answer counts as ok") { ops.exists(o => o.cls == "good" && o.ok) }

      // the traced path: one span per layer, planner phases as children,
      // jobs attributed to the request
      val ses = engine.newSession(); ses.sql(s"use ${Layers.Db}")
      val groupBy = "select b, count(*) as n from t group by b order by b"
      val t = ctx.listening(Layers.call(ctx, ses, 7, "select", groupBy, traced = true))
      val bare = Layers.call(ctx, ses, 8, "select", groupBy, traced = false)
      check("traced call spans engine, catalyst and exec") {
        val names = ctx.tracer.spans.filter(_.req == 7).map(_.name).toSet
        t.ok && t.rows.size == 4 && Set("engine", "catalyst", "exec").subsetOf(names) &&
          names.exists(_.startsWith("phase:"))
      }
      check("self time excludes the child spans") {
        val spans = ctx.tracer.spans
        val root = spans.find(s => s.req == 7 && s.parent == -1).get
        val self = ctx.tracer.selfNs(root, spans)
        self >= 0 && self < root.ns
      }
      check("job listener attributes jobs to the traced request") {
        ctx.listener.total("pb:7:").jobs > 0
      }
      check("the bare call gives the same answer, without spans or jobs") {
        bare.ok && bare.rows == t.rows && !ctx.tracer.spans.exists(_.req == 8) &&
          ctx.listener.total("pb:8:").jobs == 0
      }
      check("an in-process failing statement is not ok") {
        val f = Layers.call(ctx, ses, 9, "select", "select * from no_such_table", traced = false)
        !f.ok && f.err != null
      }
    } finally {
      c.close(); server.close()
    }
    println(s"[selftest] ${if (failures.isEmpty) "all passed" else s"${failures.size} failed"}")
    spark.stop()
    System.exit(if (failures.isEmpty) 0 else 1)
  }
}
