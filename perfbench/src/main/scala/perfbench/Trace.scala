package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Where the benchmark's calls into the service can be observed. The
  * untraced run uses [[Hook.None]]. */
trait Hook {
  def request[A](f: => A): A = f
  /** One HTTP call of statement class `cls`. */
  def statement[A](cls: String)(f: => A): A = f
  /** Rows the last read statement returned. */
  def returned(rows: Long): Unit = ()
}
object Hook { object None extends Hook }

/** One timed call. `req` groups the spans of one request. */
final case class Span(id: Long, parent: Long, req: Long, name: String, start: Long, end: Long)

/** Spans kept in memory and written out when the run ends. */
final class Tracer {
  private val spans = ArrayBuffer[Span]()
  private val ids = new AtomicLong()
  private val reqs = new AtomicLong()
  private val stack = new ThreadLocal[List[(Long, Long)]] { override def initialValue() = Nil }

  /** Time `f` as a span; a span opened with no parent starts a request. */
  def span[A](name: String)(f: => A): A = {
    val id = ids.incrementAndGet()
    val (parent, req) = stack.get() match {
      case (p, r) :: _ => (p, r)
      case Nil => (0L, reqs.incrementAndGet())
    }
    stack.set((id, req) :: stack.get())
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get().tail)
      synchronized { spans += Span(id, parent, req, name, t0, t1) }
    }
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Each span's duration minus the part of it its children cover. */
  def selfTimes: Seq[(Span, Long)] = {
    val s = all
    val kids = s.groupBy(_.parent)
    s.map { p =>
      val covered = kids.getOrElse(p.id, Nil).sortBy(_.start)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), c) =>
          val lo = math.max(c.start, reach)
          if (c.end <= lo) (sum, reach) else (sum + (c.end - lo), c.end)
        }._1
      p -> ((p.end - p.start) - covered)
    }
  }

  def write(path: Path): Unit = {
    val self = selfTimes
    val lines = self.map { case (sp, selfNs) =>
      s"""{"id":${sp.id},"parent":${sp.parent},"req":${sp.req},"name":"${sp.name}",""" +
        s""""start_ns":${sp.start},"end_ns":${sp.end},"self_ns":$selfNs}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** Per span name: count and total self time in ms. */
  def summary: Seq[(String, Int, Double)] =
    selfTimes.groupBy(_._1.name).toSeq.map { case (n, xs) =>
      (n, xs.length, xs.map(_._2).sum / 1e6)
    }.sortBy(-_._3)
}

/** Cumulative Spark work, from listener events. */
final case class SparkWork(jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
    schedDelayMs: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0,
    inputRecords: Long = 0) {
  def -(o: SparkWork) = SparkWork(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs,
    schedDelayMs - o.schedDelayMs, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, inputRecords - o.inputRecords)
  def +(o: SparkWork) = SparkWork(jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs,
    schedDelayMs + o.schedDelayMs, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, inputRecords + o.inputRecords)
}

/** The benchmark's SparkListener: job, task and stage counters. */
final class SparkCounters extends SparkListener {
  private var work = SparkWork()
  private val stageTasks = scala.collection.mutable.Map[(Int, Int), ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    work = work.copy(jobs = work.jobs + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    var w = work.copy(tasks = work.tasks + 1)
    if (m != null) {
      val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val delay = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
      w = w.copy(cpuNs = w.cpuNs + m.executorCpuTime, schedDelayMs = w.schedDelayMs + delay,
        shuffleBytes = w.shuffleBytes + m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten,
        spillBytes = w.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        inputRecords = w.inputRecords + m.inputMetrics.recordsRead)
    }
    work = w
    stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer()) += info.duration
  }

  def snapshot: SparkWork = synchronized(work)

  /** Median over stages of four or more tasks of slowest task ÷ stage
    * median task; 1.0 when no stage had four tasks. */
  def skew: Double = synchronized {
    val ratios = stageTasks.values.filter(_.length >= 4).map { ds =>
      val med = Stats.median(ds.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else ds.max / med
    }.toSeq
    if (ratios.isEmpty) 1.0 else Stats.median(ratios)
  }
}

/** Times a call repeatedly: median over `rounds` of the mean cost of
  * `batch` calls, in microseconds. */
object Micro {
  def us(rounds: Int, batch: Int)(f: Int => Unit): Double = {
    var i = 0
    val per = (1 to rounds).map { _ =>
      val t0 = System.nanoTime()
      var j = 0
      while (j < batch) { f(i); i += 1; j += 1 }
      (System.nanoTime() - t0) / 1e3 / batch
    }
    Stats.median(per)
  }
}
