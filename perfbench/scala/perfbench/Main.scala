package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options run.py passes to the JVM side. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, data: String, work: String, out: String, cpus: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"), need("out"),
      need("cpus").toInt)
  }
}

/** One timed operation: a statement sent by a client, or one pipeline
  * entry. A failed operation (error, ERR packet, timeout or wrong
  * answer) keeps its timing here but never enters a latency sample. */
final case class Op(cls: String, inst: Int, startNs: Long, endNs: Long,
    ok: Boolean, err: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** State shared by a workload run. */
final class Ctx(val args: Args, val spark: SparkSession) {
  val ops = new ConcurrentLinkedQueue[Op]()
  val work = new File(args.work)
  val tracer = new Tracer
  val listener = new JobListener

  /** Run `body` with the job listener attached; detach it once every
    * event `body` caused has been delivered. */
  def listening[A](body: => A): A = {
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      drainEvents()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  def record(op: Op): Unit = ops.add(op)
  def allOps: Seq[Op] = ops.asScala.toVector

  def opJson(o: Op): Map[String, Any] = Map("cls" -> o.cls,
    "inst" -> o.inst, "start_ms" -> o.startNs / 1e6, "ms" -> o.ms,
    "ok" -> o.ok, "err" -> o.err)

  /** Drain the listener bus, so job counters are complete. */
  def drainEvents(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

object Jvm {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap still in use after full collections: what the run retains.
    * The least of a few collections a moment apart, so that objects
    * Spark releases asynchronously after a collection are gone too. */
  def liveHeapMb: Double =
    (0 until 4).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  /** Peak resident set size of this process (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** CPU time of this process (all threads), in ms. Time the host
    * takes away from the VM (steal) is not in it. */
  def cpuMs: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def loadavg: String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")
      .take(3).mkString(",")
    catch { case _: Throwable => "n/a" }

  /** Process start time, on the System.nanoTime clock. */
  def startNs: Long = {
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    System.nanoTime() - (System.currentTimeMillis() - startMs) * 1000000L
  }
}

object Main {
  def session(a: Args): SparkSession = {
    val local = new File(a.work, "spark-local"); local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val t0 = Jvm.startNs
    val loadStart = Jvm.loadavg
    val spark = session(a)
    val sparkS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(a, spark)
    val body: Map[String, Any] = a.workload match {
      case "dml_mixed" => new Dml(ctx).run()
      case "pipeline_batch" => new PipelineBatch(ctx).run()
      case w => sys.error(s"unknown workload $w")
    }
    val env = Map(
      "seed" -> a.seed, "nproc" -> a.cpus,
      "loadavg_start" -> loadStart, "loadavg_end" -> Jvm.loadavg,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "spark_confs" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" }.toSeq.sorted.toMap,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    val result = body ++ Map(
      "env" -> env,
      "spark_s" -> sparkS,
      "mem_peak_mb" -> Jvm.rssPeakMb,
      "mem_live_mb" -> Jvm.liveHeapMb,
      "ops" -> ctx.allOps.sortBy(_.startNs).map(ctx.opJson),
      "spans" -> ctx.tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "req" -> s.req, "name" -> s.name, "start_ms" -> s.startNs / 1e6,
        "ms" -> s.ns / 1e6)))
    java.nio.file.Files.writeString(new File(a.out).toPath, Json.render(result))
    spark.stop()
    System.exit(0)
  }
}
