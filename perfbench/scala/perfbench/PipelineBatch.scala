package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame

/** pipeline_batch: library calls to pipeline entries through the noop
  * sink, with no engine and no wire. Temporary views and the cache are
  * cleaned after each entry. A first pass writes each entry's answer as
  * parquet for the oracle check; with `WarmPasses` more passes it warms
  * the JVM. Timed passes follow until one ends past the run length. */
final class PipelineBatch(ctx: Ctx) {
  import PipelineBatch._

  private val a = ctx.args
  private val spark = ctx.spark
  private val entries = Entries
  private val fns = graft.SparkEntry.queries

  /** Run one entry and clean up after it. */
  private def runEntry(name: String, sink: DataFrame => Unit, desc: String): Unit = {
    val pre = spark.sessionState.catalog.listLocalTempViews("*").map(_.table).toSet
    spark.sparkContext.setJobDescription(desc)
    try sink(fns(name)(spark, a.data))
    finally {
      spark.sparkContext.setJobDescription(null)
      spark.sessionState.catalog.listLocalTempViews("*").map(_.table)
        .filterNot(pre).foreach(v => spark.catalog.dropTempView(v))
      spark.catalog.clearCache()
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Run one entry through the noop sink as an operation; it is
    * recorded when `record` is set or when it failed. */
  private def timed(name: String, pass: Int, record: Boolean = true): Unit = {
    val t0 = System.nanoTime()
    val err =
      try { runEntry(name, noop, s"pb:$name:pass$pass"); null }
      catch { case e: Throwable => String.valueOf(e.getMessage) }
    if (record || err != null)
      ctx.record(Op(name, pass, t0, System.nanoTime(), err == null, err))
  }

  def run(): Map[String, Any] = {
    val checkDir = new File(ctx.work, "entries"); checkDir.mkdirs()
    val tw = System.nanoTime()
    val rowCounts = scala.collection.mutable.Map[String, Long]()
    val checked = entries.map { name =>
      val path = new File(checkDir, name).getPath
      val err =
        try {
          runEntry(name, _.write.mode("overwrite").parquet(path), s"pb:$name:check")
          rowCounts(name) = spark.read.parquet(path).count()
          null
        } catch { case e: Throwable => String.valueOf(e.getMessage) }
      Map("name" -> name, "path" -> path, "err" -> err,
        "oracle" -> graft.SparkEntry.oracleSql.get(name))
    }
    for (pass <- 0 until WarmPasses; name <- entries) timed(name, -1 - pass, record = false)
    val warmS = (System.nanoTime() - tw) / 1e9
    val setup = Map("load_s" -> 0.0, "warm_s" -> warmS)
    val body = if (!a.trace) {
      val start = System.nanoTime()
      val cpu0 = Jvm.cpuMs
      val deadline = start + a.seconds * 1000000000L
      // whole passes, until one ends past the deadline
      var pass = 0
      while (System.nanoTime() < deadline) {
        entries.foreach(timed(_, pass)); pass += 1
      }
      Map("window_s" -> (System.nanoTime() - start) / 1e9,
        "window_cpu_ms" -> (Jvm.cpuMs - cpu0), "passes" -> pass)
    } else traced(rowCounts.toMap)
    body ++ Map("setup" -> setup, "entries" -> checked)
  }

  /** One entry through its layer calls: building the frame
    * (operators), physical planning (catalyst) and counting the rows
    * (exec). With `traced` set, each call runs inside a span under its
    * own job description, with the planner's phases as children of
    * catalyst. Temp views and the cache are cleaned after. */
  private def call(name: String, req: Int, traced: Boolean): Layers.Call = {
    val sc = spark.sparkContext
    def span[A](parent: Int, layer: String)(body: Int => A): A =
      if (!traced) body(-1)
      else {
        sc.setJobDescription(s"pb:$req:$layer")
        ctx.tracer.span(parent, req, layer)(body)
      }
    val pre = spark.sessionState.catalog.listLocalTempViews("*").map(_.table).toSet
    var err: String = null
    var exch = 0
    var returned = 0L
    val t0 = System.nanoTime()
    span(-1, s"entry:$name") { root =>
      try {
        val df = span(root, "operators")(_ => fns(name)(spark, a.data))
        span(root, "catalyst") { id =>
          df.queryExecution.executedPlan
          if (traced) Layers.phases(ctx, df, id, req)
        }
        returned = span(root, "exec")(_ => df.queryExecution.toRdd.count())
        if (traced) exch = Layers.exchanges(df.queryExecution.executedPlan)
      } catch { case e: Throwable => err = String.valueOf(e.getMessage) }
      finally {
        if (traced) sc.setJobDescription(null)
        spark.sessionState.catalog.listLocalTempViews("*").map(_.table)
          .filterNot(pre).foreach(v => spark.catalog.dropTempView(v))
        spark.catalog.clearCache()
      }
    }
    Layers.Call(req, name, System.nanoTime() - t0, Vector.empty, returned, 0L,
      exch, err == null, err)
  }

  /** Traced run: `TracedPasses` passes in which each entry runs twice,
    * bare and traced, in an order that alternates between passes, so
    * the tracing overhead compares the same entry at the same warmth. Both runs must return
    * the checked answer's row count. */
  private def traced(rowCounts: Map[String, Long]): Map[String, Any] = {
    val rep = new LayerReport(ctx)
    val bareMs, tracedMs = scala.collection.mutable.ArrayBuffer[Double]()
    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcMs
    val calls = for (pass <- 0 until TracedPasses; (name, i) <- entries.zipWithIndex)
      yield (name, pass * entries.size + i)
    val perEntry = calls.map { case (name, req) =>
      def bareCall() = call(name, req, traced = false)
      def tracedCall() = ctx.listening(call(name, req, traced = true))
      val s0 = System.nanoTime()
      // the second of the two runs the same plan warmer, so which runs
      // first alternates from pass to pass
      val (b, t) =
        if (req / entries.size % 2 == 0) { val b = bareCall(); (b, tracedCall()) }
        else { val t = tracedCall(); (bareCall(), t) }
      rep.op(t)
      val err = Seq(b, t).iterator.map { c =>
        if (!c.ok) Some(c.err)
        else if (!rowCounts.get(name).contains(c.returned))
          Some(s"${c.returned} rows, the checked answer has ${rowCounts.get(name)}")
        else None
      }.collectFirst { case Some(e) => e }
      ctx.record(Op(name, req, s0, s0 + t.rootNs, err.isEmpty, err.orNull))
      if (err.isEmpty) { bareMs += b.rootNs / 1e6; tracedMs += t.rootNs / 1e6 }
      (name, t.rootNs, ctx.listener.total(s"pb:$req:"))
    }
    rep.jvm(Jvm.gcMs - gc0, Jvm.heapPeakMb)
    perEntry.groupBy(_._1).foreach { case (name, runs) =>
      def mean(f: ((String, Long, JobAcc)) => Double) = runs.map(f).sum / runs.size
      rep.extra ++= Seq(
        s"operators.$name.wall_s" -> mean(_._2 / 1e9),
        s"operators.$name.task_ms" -> mean(_._3.taskMs.toDouble),
        s"operators.$name.shuffle_bytes" ->
          mean(r => (r._3.shuffleRead + r._3.shuffleWrite).toDouble))
    }
    Map("layers" -> rep.metrics(bareMs.toSeq, tracedMs.toSeq))
  }
}

object PipelineBatch {
  /** A scale-bounding operator named by the roadmap that fits the run
    * budget, plus one streaming entry. */
  val Entries = Seq("p99_hard_negatives", "q61_stream_heavy_hitters")

  /** Passes of the traced run. */
  val TracedPasses = 2

  /** Untimed noop passes after the checked pass. Entry times still fall
    * by a third over the first three passes as the JIT compiles. */
  val WarmPasses = 2
}
