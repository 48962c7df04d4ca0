package perfbench

import java.io.File
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One traced interval: a layer call made by the harness. Spans of one
  * request share `req`; `parent` is -1 for a request's root. */
final case class Span(id: Int, parent: Int, req: Int, name: String,
    startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** In-memory span store; written out only when the run ends. */
final class Tracer {
  private val buf = ArrayBuffer[Span]()

  def add(parent: Int, req: Int, name: String, startNs: Long,
      endNs: Long): Int = synchronized {
    val id = buf.size
    buf += Span(id, parent, req, name, startNs, endNs)
    id
  }

  /** Time `body` as a span; the body receives the span's id so that it
    * can attach children. The id is reserved before the body runs. */
  def span[A](parent: Int, req: Int, name: String)(body: Int => A): A = {
    val id = add(parent, req, name, 0L, 0L)
    val t0 = System.nanoTime()
    try body(id)
    finally synchronized {
      buf(id) = Span(id, parent, req, name, t0, System.nanoTime())
    }
  }

  def spans: Seq[Span] = synchronized(buf.toVector)

  /** Duration minus the part of it covered by the span's children. */
  def selfNs(s: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == s.id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    s.ns - covered
  }
}

/** Counters of the jobs that ran under one job description. */
final class JobAcc {
  var jobs, stages, tasks = 0L
  var taskMs, cpuMs, gcMs, shuffleRead, shuffleWrite, spill, recordsRead = 0L
}

/** Job, stage and task counters grouped by job description. The
  * harness sets a description per request and layer before each call,
  * so every job is attributed to the call that caused it. */
final class JobListener extends SparkListener {
  private val byDesc = new ConcurrentHashMap[String, JobAcc]()
  private val stageDesc = new ConcurrentHashMap[Int, String]()

  private def acc(d: String): JobAcc =
    byDesc.computeIfAbsent(Option(d).getOrElse(""), _ => new JobAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val d = Option(e.properties).map(_.getProperty("spark.job.description"))
      .orNull
    val a = acc(d)
    a.synchronized(a.jobs += 1)
    e.stageIds.foreach(s => stageDesc.put(s, Option(d).getOrElse("")))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageDesc.get(e.stageInfo.stageId))
    a.synchronized(a.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = acc(stageDesc.get(e.stageId))
    a.synchronized {
      a.tasks += 1
      a.taskMs += m.executorRunTime
      a.cpuMs += m.executorCpuTime / 1000000L
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Sum of the counters of every description that starts with `prefix`. */
  def total(prefix: String): JobAcc = {
    val t = new JobAcc
    byDesc.asScala.foreach { case (d, a) =>
      if (d.startsWith(prefix)) a.synchronized {
        t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
        t.taskMs += a.taskMs; t.cpuMs += a.cpuMs; t.gcMs += a.gcMs
        t.shuffleRead += a.shuffleRead; t.shuffleWrite += a.shuffleWrite
        t.spill += a.spill; t.recordsRead += a.recordsRead
      }
    }
    t
  }
}

/** A directory listing keyed by file identity, so that hard links to
  * one file count once and new files can be told from old ones. */
final case class FsSnap(files: Map[AnyRef, (String, Long)]) {
  def bytes: Long = files.valuesIterator.map(_._2).sum

  /** Files in `after` that were not in this snapshot, under `under`. */
  def added(after: FsSnap, under: String): Seq[(String, Long)] =
    after.files.iterator.collect {
      case (k, (p, n)) if !files.contains(k) && p.startsWith(under) => (p, n)
    }.toSeq
}

object FsSnap {
  def take(root: File): FsSnap = {
    val out = Map.newBuilder[AnyRef, (String, Long)]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile && !f.getName.endsWith(".crc")) {
        try {
          val a = Files.readAttributes(f.toPath, classOf[BasicFileAttributes],
            LinkOption.NOFOLLOW_LINKS)
          val key = Option(a.fileKey()).getOrElse(f.getPath)
          out += key -> ((f.getPath, a.size()))
        } catch { case _: java.io.IOException => () } // removed meanwhile
      }
    walk(root)
    FsSnap(out.result())
  }
}
