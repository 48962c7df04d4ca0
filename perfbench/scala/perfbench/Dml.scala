package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import graft.engine.GraftEngine

/** dml_mixed: one wire connection mixes point reads by key with small
  * INSERT, UPDATE and DELETE on a PRIMARY KEY copy-on-write table
  * (`ord`) and a `USING KV` table (`kvt`), both orders-sized, and runs
  * OPTIMIZE on each table once. A run executes a fixed statement
  * schedule from a fresh warehouse, so file and segment growth is the
  * same in every run. The traffic shape is assumed, not taken from
  * measured traffic: see `Dml.schedule` and perfbench/README.md. */
final class Dml(ctx: Ctx) {
  import Dml._

  private val a = ctx.args
  /** Statements in the timed schedule: the run length scales with --seconds. */
  private val n = math.max(12, a.seconds * 4)

  /** Initial rows, keyed by order key: (custkey, status, price, priority). */
  private lazy val initial: Map[Int, OrdRow] = {
    ctx.spark.read.parquet(s"${a.data}/orders.parquet")
      .selectExpr("CAST(o_orderkey AS INT)", "CAST(o_custkey AS INT)",
        "o_orderstatus", "o_totalprice", "o_orderpriority")
      .collect().map(r => r.getInt(0) ->
        OrdRow(r.getInt(1), r.getString(2), r.getDouble(3), r.getString(4)))
      .toMap
  }

  def load(dir: File, db: String): GraftEngine = {
    val e = Layers.openEngine(ctx, dir, Seq("orders"), db)
    e.sql("create table ord (o_orderkey int, o_custkey int, o_orderstatus char, " +
      "o_totalprice float, o_orderpriority char, PRIMARY KEY (o_orderkey))")
    e.sql("insert into ord select CAST(o_orderkey AS INT), CAST(o_custkey AS INT), " +
      "o_orderstatus, o_totalprice, o_orderpriority from orders")
    e.sql("create table kvt (k int, v char, PRIMARY KEY (k)) using kv")
    e.sql(s"insert into kvt select CAST(o_orderkey AS INT), $KvInit from orders")
    e
  }

  def run(): Map[String, Any] = {
    initial // harness state, built before set-up is timed
    (if (a.trace) traced() else wire()) ++ Map("statements" -> n)
  }

  /** The timed run: the warm-up schedule, then the timed schedule, over
    * the wire. The warm-up's writes stay in the tables and in the log,
    * so the timed schedule starts from the same state in every run. */
  private def wire(): Map[String, Any] = {
    val t0 = System.nanoTime()
    val wh = new File(ctx.work, "wh")
    val engine = load(wh, Layers.Db)
    val loadS = (System.nanoTime() - t0) / 1e9
    val server = Layers.serve(engine)
    try {
      var client = Layers.connect(server)
      def exec(record: Boolean): Exec = { (sql, cls, i, check) =>
        val ok = Layers.timedQuery(ctx, client, cls, i, sql, record)(check)
        if (client.broken) { client.close(); client = Layers.connect(server) }
        ok
      }
      val model = new Model
      val tw = System.nanoTime()
      model.runAll(WarmSchedule, exec(record = false))
      val warmS = (System.nanoTime() - tw) / 1e9
      val start = System.nanoTime()
      val cpu0 = Jvm.cpuMs
      model.runAll(schedule(n), exec(record = true))
      val window = (System.nanoTime() - start) / 1e9
      val cpu = Jvm.cpuMs - cpu0
      client.close()
      val (fin, spaceAmp) = finalState(engine, wh, Layers.Db, "final")
      Map("setup" -> Map("load_s" -> loadS, "warm_s" -> warmS),
        "window_s" -> window, "window_cpu_ms" -> cpu, "log" -> model.log.toSeq,
        "finals" -> Seq(fin), "space_amp" -> spaceAmp)
    } finally server.close()
  }

  /** Dump the final table contents as parquet under `name` for the
    * oracle replay, and measure space amplification: live table bytes
    * (hard links once) over the same rows written once as fresh parquet. */
  private def finalState(e: GraftEngine, wh: File, db: String,
      name: String): (Map[String, Any], Double) = {
    val check = new File(ctx.work, name); check.mkdirs()
    val out = Seq("ord", "kvt").map { t =>
      val p = new File(check, t).getPath
      e.query(s"select * from $t").coalesce(1).write.mode("overwrite").parquet(p)
      val fresh = FsSnap.take(new File(p)).files.values
        .filter(_._1.endsWith(".parquet")).map(_._2).sum
      val live = FsSnap.take(new File(wh, s"data/$db/$t")).bytes
      t -> (p, fresh, live)
    }.toMap
    val amp = out.values.map(_._3).sum.toDouble / math.max(1L, out.values.map(_._2).sum)
    (out.map { case (t, (p, _, _)) => t -> p }, amp)
  }

  /** The connection's view of both tables, which every answer is
    * checked against, and the log of the writes that succeeded, in
    * order, for the oracle replay. */
  private final class Model {
    private val r = new Random(a.seed * 7919L)
    private val ord = mutable.Map[Int, Option[OrdRow]]()
    private val kv = mutable.Map[Int, Option[String]]()
    /** The key last written in each table, the reads made of each table
    * and the statements made of each write class. */
    private val last = mutable.Map[String, Int]()
    private val reads, writes = mutable.Map[String, Int]().withDefaultValue(0)
    private var nextKey = NewKeyBase
    val log = mutable.ArrayBuffer[String]()

    private def ordNow(k: Int) = ord.getOrElse(k, initial.get(k))
    private def kvNow(k: Int) = kv.getOrElse(k, initial.get(k).map(kvInit))
    private def anyKey(): Int = 1 + r.nextInt(Rows)
    private def freshKey(): Int = { nextKey += 1; nextKey }
    /** Every other read of a table is of the key last written there. */
    private def readKey(t: String): Int = {
      val j = reads(t); reads(t) = j + 1
      if (j % 2 == 0) last.getOrElse(t, anyKey()) else anyKey()
    }
    /** 1, 2, ... `MaxRows` rows in turn, so every seed writes as many. */
    private def rowCount(cls: String): Int = {
      val j = writes(cls); writes(cls) = j + 1
      1 + j % MaxRows
    }
    /** Adjacent generated keys, so a write's rows share their files. */
    private def someKeys(cls: String): Seq[Int] = {
      val m = rowCount(cls)
      val k = 1 + r.nextInt(Rows - m + 1)
      k until k + m
    }
    private def price() = (100000 + r.nextInt(40000000)) / 100.0
    private def prio() = Priorities(r.nextInt(5))

    def runAll(plan: Seq[String], exec: Exec): Unit =
      plan.zipWithIndex.foreach { case (cls, i) => step(cls, i, exec) }

    private def step(cls: String, i: Int, exec: Exec): Unit = {
      // (sql, answer check, model update on success)
      val (sql, check, apply): (String, MiniMysql.Reply => Option[String], () => Unit) =
        cls match {
          case "point_pk" =>
            val k = readKey("pk")
            (s"select o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
              s"o_orderpriority from ord where o_orderkey = $k",
              rep => expectOrd(k, rep), () => ())
          case "point_kv" =>
            val k = readKey("kv")
            (s"select k, v from kvt where k = $k", rep => expectKv(k, rep), () => ())
          case "insert_pk" =>
            val rows = Seq.fill(rowCount(cls))(
              freshKey() -> OrdRow(1 + r.nextInt(15000), "N", price(), prio()))
            (s"insert into ord values " + rows.map { case (k, o) =>
              f"($k, ${o.cust}, '${o.status}', ${o.price}%.2f, '${o.prio}')" }.mkString(", "),
              affected(rows.size),
              () => rows.foreach { case (k, o) => ord(k) = Some(o); last("pk") = k })
          case "insert_kv" =>
            val rows = Seq.fill(rowCount(cls))(freshKey() -> s"n${r.nextInt(1000)}")
            (s"insert into kvt values " + rows.map { case (k, v) => s"($k, '$v')" }.mkString(", "),
              affected(rows.size),
              () => rows.foreach { case (k, v) => kv(k) = Some(v); last("kv") = k })
          case "update_pk" =>
            val ks = someKeys(cls); val p = price()
            (f"update ord set o_totalprice = $p%.2f, o_orderstatus = 'U' " +
              s"where o_orderkey in (${ks.mkString(", ")})",
              affected(ks.count(ordNow(_).isDefined)),
              () => ks.foreach { k =>
                ordNow(k).foreach(o => ord(k) = Some(o.copy(status = "U", price = p)))
                last("pk") = k
              })
          case "update_kv" =>
            val ks = someKeys(cls); val v = s"u${r.nextInt(1000)}"
            (s"update kvt set v = '$v' where k in (${ks.mkString(", ")})",
              affected(ks.count(kvNow(_).isDefined)),
              () => ks.foreach { k => kvNow(k).foreach(_ => kv(k) = Some(v)); last("kv") = k })
          case "delete_pk" =>
            val ks = someKeys(cls)
            (s"delete from ord where o_orderkey in (${ks.mkString(", ")})",
              affected(ks.count(ordNow(_).isDefined)),
              () => ks.foreach { k => ord(k) = None; last("pk") = k })
          case "delete_kv" =>
            val ks = someKeys(cls)
            (s"delete from kvt where k in (${ks.mkString(", ")})",
              affected(ks.count(kvNow(_).isDefined)),
              () => ks.foreach { k => kv(k) = None; last("kv") = k })
          case "optimize_pk" => ("optimize ord", (_: MiniMysql.Reply) => None, () => ())
          case "optimize_kv" => ("optimize kvt", (_: MiniMysql.Reply) => None, () => ())
        }
      if (exec(sql, cls, i, check)) { apply(); if (isWrite(cls)) log += sql }
    }

    private def affected(want: Int)(rep: MiniMysql.Reply): Option[String] =
      if (rep.affected == want) None
      else Some(s"affected ${rep.affected} rows, expected $want")

    private def expectOrd(k: Int, rep: MiniMysql.Reply): Option[String] =
      (ordNow(k), rep.rows) match {
        case (None, rows) if rows.isEmpty => None
        case (Some(o), Seq(row)) if row.size == 5 && row(0) == k.toString &&
            row(1) == o.cust.toString && row(2) == o.status &&
            math.abs(row(3).toDouble - o.price) < 0.005 && row(4) == o.prio => None
        case (want, got) => Some(s"key $k: expected $want, got ${got.map(_.mkString("|"))}")
      }

    private def expectKv(k: Int, rep: MiniMysql.Reply): Option[String] =
      (kvNow(k), rep.rows) match {
        case (None, rows) if rows.isEmpty => None
        case (Some(v), Seq(row)) if row == IndexedSeq(k.toString, v) => None
        case (want, got) => Some(s"kv key $k: expected $want, got ${got.map(_.mkString("|"))}")
      }
  }

  /** Traced run. Two warehouses are loaded alike; every statement of the
    * warm-up and of the timed schedule runs in-process on both, through
    * the same layer calls: bare on one, traced on the other (spans, job
    * descriptions, job listener). In the timed schedule, which of the
    * two runs first alternates within each statement class, so the
    * tracing overhead compares the same statements on the same table
    * state at the same warmth. Each read is replayed over the wire on
    * the traced warehouse for the wire numbers, and the traced
    * warehouse is listed before and after each write for the storage,
    * sources and catalog numbers; neither is inside the timed calls.
    * Every answer, of both paths and of the replay, is checked. */
  private def traced(): Map[String, Any] = {
    val t0 = System.nanoTime()
    val bareWh = new File(ctx.work, "wh")
    val bareEngine = load(bareWh, Layers.Db)
    val db = "traced"
    val wh = new File(ctx.work, "wh-traced")
    val engine = load(wh, db)
    val loadS = (System.nanoTime() - t0) / 1e9
    val bare = bareEngine.newSession(); bare.sql(s"use ${Layers.Db}")
    val ses = engine.newSession(); ses.sql(s"use $db")
    val server = Layers.serve(engine)
    val client = Layers.connect(server, db)
    val dataDir = new File(wh, s"data/$db").getPath
    val infoDir = new File(wh, "information_schema").getPath
    val bytesPerRow = Map(
      "ord" -> FsSnap.take(new File(dataDir, "ord")).bytes.toDouble / Rows,
      "kvt" -> FsSnap.take(new File(dataDir, "kvt")).bytes.toDouble / Rows)
    val rep = new LayerReport(ctx)
    val writes = mutable.ArrayBuffer[(String, Long, Seq[(String, Long)])]()
    val optimize = mutable.ArrayBuffer[(Double, Long)]()
    val bareMs, tracedMs = mutable.ArrayBuffer[Double]()
    val model = new Model
    def firstError(calls: Seq[Layers.Call], check: MiniMysql.Reply => Option[String]) =
      calls.iterator.map(c => if (c.ok) check(c.reply) else Some(c.err))
        .collectFirst { case Some(e) => e }

    val warm: Exec = { (sql, cls, i, check) =>
      val s0 = System.nanoTime()
      val err = firstError(Seq(bare, ses).map(s =>
        Layers.call(ctx, s, i, cls, sql, traced = false)), check)
      err.foreach(e => ctx.record(Op(cls, i, s0, System.nanoTime(), ok = false, e)))
      err.isEmpty
    }
    val tw = System.nanoTime()
    model.runAll(WarmSchedule, warm)
    val warmS = (System.nanoTime() - tw) / 1e9

    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcMs
    val runs = mutable.Map[String, Int]().withDefaultValue(0)
    val timed: Exec = { (sql, cls, i, check) =>
      val p0 = System.nanoTime(); client.ping(); rep.ping((System.nanoTime() - p0) / 1e6)
      val read = cls.startsWith("point")
      val before = if (read) null else FsSnap.take(wh)
      def bareCall() = Layers.call(ctx, bare, i, cls, sql, traced = false)
      def tracedCall() = ctx.listening(Layers.call(ctx, ses, i, cls, sql, traced = true))
      // the second of the two runs the same statement warmer, so which
      // runs first alternates between statements of a class
      val bareFirst = runs(cls) % 2 == 0
      runs(cls) += 1
      val s0 = System.nanoTime()
      val (b, t) =
        if (bareFirst) { val b = bareCall(); (b, tracedCall()) }
        else { val t = tracedCall(); (bareCall(), t) }
      rep.op(t)
      var err = firstError(Seq(b, t), check)
      if (read) err = err.orElse {
        try { val r = client.query(sql); rep.wire(r); check(r) }
        catch { case e: Throwable => Some(s"wire replay: ${e.getMessage}") }
      } else {
        val added = before.added(FsSnap.take(wh), wh.getPath)
        if (cls.startsWith("optimize")) optimize += ((t.rootNs / 1e6, added.map(_._2).sum))
        else writes += ((cls, t.affected, added))
      }
      ctx.record(Op(cls, i, s0, s0 + t.rootNs, err.isEmpty, err.orNull))
      if (err.isEmpty) { bareMs += b.rootNs / 1e6; tracedMs += t.rootNs / 1e6 }
      err.isEmpty
    }
    model.runAll(schedule(n), timed)
    rep.jvm(Jvm.gcMs - gc0, Jvm.heapPeakMb)
    client.close()
    server.close()

    def sumUnder(xs: Seq[(String, Long)], p: String) = xs.filter(_._1.startsWith(p)).map(_._2).sum
    def amp(table: String, suffix: String) = {
      val ws = writes.filter(_._1.endsWith(suffix)).toSeq
      val written = ws.map(w => sumUnder(w._3, s"$dataDir/$table")).sum.toDouble
      val logical = ws.map(w => math.max(1L, w._2)).sum * bytesPerRow(table)
      if (logical == 0) 0.0 else written / logical
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val versions = (t: String) => Option(new File(dataDir, t).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.matches("v\\d+")).sortBy(_.getName.drop(1).toLong)
    def latestCount(t: String, ext: String) = versions(t).lastOption
      .map(_.listFiles().count(_.getName.endsWith(ext)).toDouble).getOrElse(0.0)
    val nw = math.max(1, writes.size).toDouble
    val kvReads = ctx.allOps.filter(o => o.ok && o.cls == "point_kv")
    rep.extra ++= Seq(
      "catalog.writes_per_stmt" -> writes.map(w => w._3.count(_._1.startsWith(infoDir))).sum / nw,
      "catalog.bytes_per_stmt" -> writes.map(w => sumUnder(w._3, infoDir)).sum / nw,
      "storage.write_amp" -> amp("ord", "_pk"),
      "storage.files_per_version" -> latestCount("ord", ".parquet"),
      "storage.versions_live" -> versions("ord").length.toDouble,
      "storage.optimize_ms" -> mean(optimize.map(_._1).toSeq),
      "storage.optimize_bytes" -> mean(optimize.map(_._2.toDouble).toSeq),
      "sources.kv_segments" -> latestCount("kvt", ".seg"),
      "sources.kv_partitions_per_lookup" ->
        mean(kvReads.map(o => ctx.listener.total(s"pb:${o.inst}:").tasks.toDouble)),
      "sources.kv_write_amp" -> amp("kvt", "_kv"))
    val (fin, spaceAmp) = finalState(engine, wh, db, "final")
    val (finBare, _) = finalState(bareEngine, bareWh, Layers.Db, "final-bare")
    rep.extra += "storage.space_amp" -> spaceAmp
    Map("setup" -> Map("load_s" -> loadS, "warm_s" -> warmS),
      "layers" -> rep.metrics(bareMs.toSeq, tracedMs.toSeq),
      "log" -> model.log.toSeq, "finals" -> Seq(fin, finBare), "space_amp" -> spaceAmp)
  }
}

object Dml {
  val Rows = 150000
  val NewKeyBase = 1000000
  /** Rows a write touches: 1 to 3 in turn, for the single- and few-row writes. */
  val MaxRows = 3
  val KvInit = "concat(o_orderpriority, ':', CAST(o_custkey AS STRING))"
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  final case class OrdRow(cust: Int, status: String, price: Double, prio: String)

  /** Runs one statement (sql, class, index in its schedule, answer
    * check) and returns whether it succeeded with a right answer. */
  type Exec = (String, String, Int, MiniMysql.Reply => Option[String]) => Boolean

  def kvInit(o: OrdRow): String = s"${o.prio}:${o.cust}"

  def isWrite(cls: String): Boolean =
    Seq("insert", "update", "delete").exists(cls.startsWith)

  /** `n` statements in a fixed cycle: a point read of `ord`, a write of
    * `ord`, a point read of `kvt`, a write of `kvt`, so reads and
    * writes of each table have equal shares. The writes of each table
    * take turns as INSERT, UPDATE and DELETE, and the writes of each
    * class touch 1 to `MaxRows` rows in turn. The schedule opens by
    * optimizing each table, so every run's reads see the files grow
    * from the same compacted state. It is the same for every seed (the
    * seed picks keys and values), so file and segment growth repeat
    * exactly. */
  def schedule(n: Int): Seq[String] = {
    val verbs = Seq("insert", "update", "delete")
    Seq("optimize_pk", "optimize_kv") ++ (0 until n).map { i =>
      val t = if (i % 4 < 2) "pk" else "kv"
      if (i % 2 == 0) s"point_$t" else s"${verbs(i / 4 % 3)}_$t"
    }
  }

  /** Each OPTIMIZE once, then two whole cycles of the schedule: every
    * other statement class twice. */
  val WarmSchedule: Seq[String] = schedule(24)
}
