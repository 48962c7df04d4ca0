package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

import graft.engine.{AffectedRows, GraftEngine, GraftSession, ResultSet}
import graft.wire.MysqlServer

/** Engine set-up and the two statement paths: over the wire (timed end
  * to end), and in-process through each layer in turn (traced or not). */
object Layers {
  val Db = "bench"

  /** Open an engine on a fresh warehouse under `dir`, with schema `db`
    * holding `tables` of the generated parquet as external tables.
    * Engines sharing one Spark session need distinct schema names,
    * because tables register in Spark's catalog. */
  def openEngine(ctx: Ctx, dir: File, tables: Seq[String],
      db: String = Db): GraftEngine = {
    val e = new GraftEngine(ctx.spark, dir.getPath)
    e.sql(s"create database $db"); e.sql(s"use $db")
    tables.foreach { t =>
      e.sql(s"create external table $t location '${ctx.args.data}/$t.parquet'")
    }
    e
  }

  def serve(e: GraftEngine): MysqlServer = new MysqlServer(e, 0)

  def connect(server: MysqlServer, db: String = Db): MiniMysql =
    new MiniMysql("127.0.0.1", server.boundPort, db)

  /** Run `sql` over the wire and time it as one operation. `check`
    * returns an error message when the answer is wrong. The operation
    * is recorded when `record` is set or when it failed; returns
    * whether it succeeded with a right answer. */
  def timedQuery(ctx: Ctx, client: MiniMysql, cls: String, inst: Int,
      sql: String, record: Boolean = true)
      (check: MiniMysql.Reply => Option[String]): Boolean = {
    val t0 = System.nanoTime()
    val (reply, err) =
      try {
        val r = client.query(sql)
        (Some(r), None)
      } catch { case e: Throwable => (None, Some(String.valueOf(e.getMessage))) }
    val t1 = System.nanoTime()
    val wrong = if (err.isEmpty) reply.flatMap(check) else None
    val ok = err.isEmpty && wrong.isEmpty
    if (record || !ok) ctx.record(Op(cls, inst, t0, t1, ok, err.orElse(wrong).orNull))
    ok
  }

  /** One in-process statement: its wall time and answer. */
  final case class Call(req: Int, cls: String, rootNs: Long,
      rows: Vector[Seq[String]], returned: Long, affected: Long,
      exchanges: Int, ok: Boolean, err: String) {
    def reply: MiniMysql.Reply =
      MiniMysql.Reply(rows.map(_.toIndexedSeq), affected, 0L, 0L, 0L)
  }

  /** Call the layers one after another on this thread: GraftSession.sql
    * (engine), executedPlan (catalyst), and the row drain (exec). With
    * `traced` set, each call runs inside a span, the planner's phases
    * become child spans of catalyst, and each call runs under its own
    * job description, so the job listener attributes jobs, tasks,
    * shuffle and spill to it. Without it, the same calls run bare. */
  def call(ctx: Ctx, ses: GraftSession, req: Int, cls: String, sql: String,
      traced: Boolean): Call = {
    val sc = ctx.spark.sparkContext
    def span[A](parent: Int, name: String)(body: Int => A): A =
      if (traced) ctx.tracer.span(parent, req, name)(body) else body(-1)
    def layer(name: String): Unit =
      if (traced) sc.setJobDescription(s"pb:$req:$name")
    var rows = Vector.empty[Seq[String]]
    var affected = 0L
    var err: String = null
    var exch = 0
    val t0 = System.nanoTime()
    span(-1, s"stmt:$cls") { root =>
      try {
        layer("engine")
        span(root, "engine")(_ => ses.sql(sql)) match {
          case AffectedRows(n) => affected = n
          case ResultSet(df) =>
            layer("catalyst")
            span(root, "catalyst") { id =>
              df.queryExecution.executedPlan
              if (traced) phases(ctx, df, id, req)
            }
            layer("exec")
            rows = span(root, "exec") { _ => drain(df) }
            if (traced) exch = exchanges(df.queryExecution.executedPlan)
        }
      } catch { case e: Throwable => err = String.valueOf(e.getMessage) }
      finally if (traced) sc.setJobDescription(null)
    }
    Call(req, cls, System.nanoTime() - t0, rows, rows.size.toLong, affected,
      exch, err == null, err)
  }

  /** The planner's own phase timings, added as child spans. */
  def phases(ctx: Ctx, df: DataFrame, parent: Int, req: Int): Unit = {
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    df.queryExecution.tracker.phases.foreach { case (name, p) =>
      ctx.tracer.add(parent, req, s"phase:$name",
        p.startTimeMs * 1000000L + offsetNs, p.endTimeMs * 1000000L + offsetNs)
    }
  }

  def drain(df: DataFrame): Vector[Seq[String]] = {
    val b = Vector.newBuilder[Seq[String]]
    val n = df.schema.length
    df.toLocalIterator().forEachRemaining { r =>
      b += (0 until n).map(i => if (r.isNullAt(i)) null else String.valueOf(r.get(i)))
    }
    b.result()
  }

  /** Exchanges (shuffle and broadcast) in an executed plan; with
    * adaptive execution, in its final plan. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => 1 + q.plan.children.map(exchanges).sum
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case _ => p.children.map(exchanges).sum
  }
}
