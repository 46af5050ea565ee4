package graft.avrobench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark runtime counters of one layer call. */
final case class Counters(
    jobs: Long = 0,
    stages: Long = 0,
    tasks: Long = 0,
    taskCpuNs: Long = 0,
    gcNs: Long = 0,
    shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0,
    inputRows: Long = 0)

/** A `SparkListener` that the benchmark registers around one layer call
  * and removes afterwards. Only events of jobs started while it is
  * registered are counted.
  */
final class CounterListener extends SparkListener {
  private var c = Counters()
  private val stagesSeen = scala.collection.mutable.Set[Int]()

  def counters: Counters = synchronized(c)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stagesSeen += e.stageInfo.stageId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (stagesSeen(e.stageInfo.stageId)) c = c.copy(stages = c.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stagesSeen(e.stageId)) {
      val m = e.taskMetrics
      c = c.copy(tasks = c.tasks + 1)
      if (m != null) c = c.copy(
        taskCpuNs = c.taskCpuNs + m.executorCpuTime,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.diskBytesSpilled,
        inputRows = c.inputRows + m.inputMetrics.recordsRead)
    }
  }
}

/** One timed layer call: wall time plus the Spark counters it caused. */
final case class Measured[T](value: T, wallNs: Long, counters: Counters) {
  def wallS: Double = wallNs / 1e9
}

object Measure {

  private def gcNs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum * 1000000L

  /** Waits until every event already posted to the listener bus has been
    * delivered, so the counters of a finished call are complete.
    */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Runs `body` with a [[CounterListener]] registered. GC time is the
    * JVM-wide collector time over the call: in local mode every task runs
    * in this JVM, and per-task GC figures would count one pause once per
    * running task.
    */
  def apply[T](sc: SparkContext)(body: => T): Measured[T] = {
    drain(sc)
    val l = new CounterListener
    sc.addSparkListener(l)
    val gc0 = gcNs()
    val t0 = System.nanoTime()
    try {
      val v = body
      val wall = System.nanoTime() - t0
      val gc = gcNs() - gc0
      drain(sc)
      Measured(v, wall, l.counters.copy(gcNs = gc))
    } finally sc.removeSparkListener(l)
  }
}

/** A span: one layer call of a traced run. `parent` is -1 at the root. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
    counters: Option[Counters] = None) {
  def durationNs: Long = endNs - startNs
}

/** In-memory span recorder for the traced run. Spans nest by call: a span
  * opened inside another's body is its child. Nothing is written until
  * [[write]] is called at the end of the run.
  */
final class Tracer {
  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]

  def span[T](name: String)(body: => T): T = {
    val id = spans.length
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, name, parent, System.nanoTime(), 0L)
    open = id :: open
    try body
    finally {
      open = open.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  /** A span that also records the Spark counters of its call. */
  def measured[T](sc: SparkContext, name: String)(body: => T): Measured[T] = {
    val id = spans.length
    val m = span(name)(Measure(sc)(body))
    spans(id) = spans(id).copy(counters = Some(m.counters))
    m
  }

  def all: Seq[Span] = spans.toSeq

  /** One JSON object per line: the span, its self time and its counters. */
  def write(file: java.io.File): Unit = {
    val self = Tracer.selfNs(all)
    val origin = spans.headOption.map(_.startNs).getOrElse(0L)
    val out = all.map { s =>
      val c = s.counters.map(c => c.productElementNames.zip(c.productIterator)
        .map { case (k, v) => s""", "$k": $v""" }.mkString).getOrElse("")
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
        s""""start_ns": ${s.startNs - origin}, "end_ns": ${s.endNs - origin}, """ +
        s""""self_ns": ${self(s.id)}$c}"""
    }
    java.nio.file.Files.write(file.toPath, out.asJava)
  }
}

object Tracer {

  /** Self time of each span: its duration minus the part of its interval
    * that its direct children cover (overlapping children count once).
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curStart = Long.MinValue
      var curEnd = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curEnd) {
          if (curEnd > curStart) covered += curEnd - curStart
          curStart = a
          curEnd = b
        } else curEnd = math.max(curEnd, b)
      }
      if (curEnd > curStart) covered += curEnd - curStart
      s.id -> (s.durationNs - covered)
    }.toMap
  }
}
