package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** Spark work attributed to one benchmark operation. */
final class OpCounters {
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var writeTaskMs = 0L // stages whose tasks wrote output files
  var computeTaskMs = 0L // every other stage
  var inputBytes = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
}

/** One SQL execution: wall interval, the warehouse table it wrote (if
  * any) and whether its call stack ran through the constraint gate.
  */
final case class SqlExec(start: Long, end: Long, table: Option[String],
    constraintGate: Boolean)

/** The listener the benchmark registers. Every job carries the
  * `perfbench.op` local property of the thread that started it; task
  * and stage metrics are summed per operation id. SQL executions are
  * kept as a timeline (the refresh's phase attribution reads it).
  */
final class WorkListener extends SparkListener {
  val OpKey = "perfbench.op"
  private val ops = new ConcurrentHashMap[String, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val execStarts =
    new ConcurrentHashMap[Long, (Long, Option[String], Boolean)]()
  private val execs = mutable.ArrayBuffer.empty[SqlExec]
  private val tablePath = """/([A-Za-z0-9_]+)__data/""".r

  private def counters(op: String): OpCounters =
    ops.computeIfAbsent(op, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
      .foreach { op =>
        val c = counters(op)
        c.synchronized { c.jobs += 1 }
        e.stageIds.foreach(s => stageOp.put(s, op))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val m = e.taskMetrics
      if (m != null) {
        val c = counters(op)
        c.synchronized {
          c.tasks += 1
          c.taskRunMs += m.executorRunTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.remove(e.stageInfo.stageId)).foreach { op =>
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        val c = counters(op)
        c.synchronized {
          if (m.outputMetrics.bytesWritten > 0)
            c.writeTaskMs += m.executorRunTime
          else c.computeTaskMs += m.executorRunTime
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      // the write target is the Arguments line of the formatted plan's
      // InsertIntoHadoopFsRelationCommand node (scans name __data
      // directories too)
      val table = Option(s.physicalPlanDescription).toSeq
        .flatMap(_.linesIterator
          .dropWhile(l => !(l.startsWith("(") &&
            l.contains("InsertIntoHadoopFsRelationCommand")))
          .find(_.startsWith("Arguments:")))
        .flatMap(l => tablePath.findFirstMatchIn(l).map(_.group(1)))
        .headOption
      val gate = Option(s.details).exists(_.contains("checkConstraints"))
      execStarts.put(s.executionId, (s.time, table, gate))
    case x: SparkListenerSQLExecutionEnd =>
      Option(execStarts.remove(x.executionId)).foreach {
        case (t0, table, gate) => execs.synchronized {
          execs += SqlExec(t0, x.time, table, gate)
        }
      }
    case _ => ()
  }

  /** Counters of `op`; complete once the listener bus is drained. */
  def op(op: String): OpCounters = counters(op)

  /** SQL executions that ended inside [t0, t1] (epoch ms), by start. */
  def execsBetween(t0: Long, t1: Long): Seq[SqlExec] =
    execs.synchronized(execs.filter(x => x.start >= t0 && x.end <= t1)
      .sortBy(_.start).toSeq)
}

/** A span: a named interval of one operation, with its parent. */
final case class Span(name: String, op: String, start: Long, end: Long,
    parent: Option[String]) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span store (nanosecond clock); written out at the end. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]

  def add(s: Span): Unit = spans.synchronized { spans += s; () }

  def clear(): Unit = spans.synchronized(spans.clear())

  /** Time `body` as span `name` of operation `op`. */
  def span[A](name: String, op: String, parent: Option[String] = None)(
      body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally add(Span(name, op, t0, System.nanoTime(), parent))
  }

  def all: Seq[Span] = spans.synchronized(spans.toSeq)

  /** Self time per span name, in ms: each span's duration minus the
    * part of it its child spans (same op, parent = its name) cover.
    */
  def selfMs: Map[String, Double] = {
    val byOp = all.groupBy(_.op)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    byOp.values.foreach { ss =>
      ss.foreach { s =>
        val kids = ss.filter(k => k.parent.contains(s.name) &&
          k.start >= s.start && k.end <= s.end)
        out(s.name) += s.ms - covered(kids.map(k => (k.start, k.end)))
      }
    }
    out.toMap
  }

  private def covered(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e6
  }

  /** Write every span as one tab-separated line. */
  def write(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.println("op\tname\tparent\tstart_ns\tend_ns")
      all.sortBy(_.start).foreach(s => w.println(
        Seq(s.op, s.name, s.parent.getOrElse(""), s.start, s.end)
          .mkString("\t")))
    } finally w.close()
  }
}

/** The spans of one operation; records nothing when `on` is false. */
final class OpTrace(tracer: Tracer, val op: String, val on: Boolean) {
  def span[A](name: String, parent: Option[String] = Some("op"))(
      body: => A): A =
    if (on) tracer.span(name, op, parent)(body) else body

  def add(name: String, start: Long, end: Long,
      parent: Option[String] = Some("op")): Unit =
    if (on) tracer.add(Span(name, op, start, end, parent))
}

object Jvm {
  /** Cumulative GC time of every collector, in ms. */
  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum
}
