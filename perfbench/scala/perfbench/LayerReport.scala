package perfbench

import scala.collection.mutable

/** Aggregates one traced pass into `<layer>.<metric>` numbers. */
final class LayerReport(ctx: Ctx) {
  private val ops = mutable.ArrayBuffer[Layers.Call]()
  private val pings = mutable.ArrayBuffer[Double]()
  private val firstMs, streamMs = mutable.ArrayBuffer[Double]()
  private var wireBytes, wireRows = 0L
  private var gcMs = 0L
  private var heapMb = 0.0
  /** Extra metrics a workload measures itself (storage, catalog, ...). */
  val extra = mutable.LinkedHashMap[String, Double]()

  def op(t: Layers.Call): Unit = ops += t
  def ping(ms: Double): Unit = pings += ms
  def wire(r: MiniMysql.Reply): Unit = {
    firstMs += r.firstNs / 1e6
    streamMs += r.streamNs / 1e6
    wireBytes += r.bytes
    wireRows += r.rows.size
  }
  def jvm(gc: Long, heapPeakMb: Double): Unit = { gcMs = gc; heapMb = heapPeakMb }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** `bareMs(i)` and `tracedMs(i)` are the wall times of the same
    * operation on the same state, run through the same layer calls with
    * tracing (spans, job descriptions, job listener) off and on. */
  def metrics(bareMs: Seq[Double], tracedMs: Seq[Double]): Map[String, Double] = {
    ctx.drainEvents()
    val spans = ctx.tracer.spans
    val byReq = spans.groupBy(_.req)
    def layerMs(req: Int, name: String): Option[Double] =
      byReq.getOrElse(req, Nil).find(_.name == name).map(_.ns / 1e6)
    val good = ops.filter(_.ok).toSeq
    val jobs = good.map(t => ctx.listener.total(s"pb:${t.req}:"))
    val n = math.max(1, good.size).toDouble
    def mean(f: JobAcc => Long) = jobs.map(f).sum / n
    val reads = good.filterNot(t => Dml.isWrite(t.cls) || t.cls.startsWith("optimize"))
    val readAcc = reads.map(t => ctx.listener.total(s"pb:${t.req}:"))
    val rowsOut = reads.map(_.returned).sum
    val roots = spans.filter(_.parent == -1)
    val rootMs = good.map(_.rootNs / 1e6)
    val cpus = ctx.args.cpus
    val out = mutable.LinkedHashMap[String, Double](
      "wire.ping_ms" -> median(pings.toSeq),
      "wire.first_row_ms" -> median(firstMs.toSeq),
      "wire.stream_ms" -> median(streamMs.toSeq),
      "wire.bytes_per_row" -> (if (wireRows == 0) 0.0 else wireBytes.toDouble / wireRows),
      "engine.sql_ms" -> median(good.flatMap(t => layerMs(t.req, "engine"))),
      "engine.read_sql_ms" -> median(reads.flatMap(t => layerMs(t.req, "engine"))),
      "engine.write_sql_ms" -> median(good.filter(t => Dml.isWrite(t.cls))
        .flatMap(t => layerMs(t.req, "engine"))),
      "catalyst.analysis_ms" -> median(good.flatMap(t => layerMs(t.req, "phase:analysis"))),
      "catalyst.optimization_ms" -> median(good.flatMap(t => layerMs(t.req, "phase:optimization"))),
      "catalyst.planning_ms" -> median(good.flatMap(t => layerMs(t.req, "phase:planning"))),
      "catalyst.exchanges" -> good.map(_.exchanges).sum / n,
      "exec.jobs" -> mean(_.jobs),
      "exec.stages" -> mean(_.stages),
      "exec.tasks" -> mean(_.tasks),
      "exec.task_ms" -> mean(_.taskMs),
      "exec.cpu_ms" -> mean(_.cpuMs),
      "exec.gc_ms" -> mean(_.gcMs),
      "exec.shuffle_read_bytes" -> mean(_.shuffleRead),
      "exec.shuffle_write_bytes" -> mean(_.shuffleWrite),
      "exec.spill_bytes" -> mean(_.spill),
      "exec.rows_read_per_row_returned" ->
        readAcc.map(_.recordsRead).sum.toDouble / math.max(1L, rowsOut),
      "exec.utilization" -> jobs.map(_.taskMs).sum /
        math.max(1.0, rootMs.sum * cpus),
      "jvm.gc_ms" -> gcMs.toDouble,
      "jvm.heap_peak_mb" -> heapMb,
      "jvm.rss_peak_mb" -> Jvm.rssPeakMb,
      "trace.spans" -> spans.size.toDouble,
      "trace.self_ms" -> median(roots.map(s => ctx.tracer.selfNs(s, spans) / 1e6)),
      "trace.overhead_pct" -> (if (bareMs.isEmpty) 0.0
        else 100.0 * (tracedMs.sum - bareMs.sum) / bareMs.sum))
    out ++= extra
    out.toMap
  }
}
