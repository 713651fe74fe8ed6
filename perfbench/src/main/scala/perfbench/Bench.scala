package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One timed operation: wall time, and the Spark work and GC time
  * attributed to it.
  */
final case class OpSample(id: String, ms: Double, work: OpCounters,
    gcMs: Long)

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** State shared by every workload of one run. */
final class Ctx(val spark: SparkSession, val listener: WorkListener,
    val tracer: Tracer, val work: File, val seed: Long,
    val seconds: Int, val cores: Int, val tracing: Boolean) {
  private val failures = mutable.ArrayBuffer.empty[String]
  private val failedIds = mutable.Set.empty[String]
  val samples: mutable.ArrayBuffer[OpSample] = mutable.ArrayBuffer.empty

  /** Whether a closed loop started at `t0` should stop: the window is
    * over and at least two operations ran (a median and a maximum over
    * the same mix; the same-work guards compare two).
    */
  def done(t0: Long): Boolean =
    System.nanoTime() - t0 >= seconds * 1000000000L &&
      samples.synchronized(samples.size) >= 2

  /** A progress line on standard error, stamped with JVM uptime. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${Main.sinceJvmStart}%8.2f s $msg")

  /** Record a failed set-up check. */
  def fail(msg: String): Unit = failures.synchronized {
    System.err.println(s"[perfbench] FAILED: $msg")
    failures += msg
    ()
  }

  /** Record a failed check of timed operation `id`. */
  def failOp(id: String, msg: String): Unit = failures.synchronized {
    fail(msg)
    failedIds += id
    ()
  }

  def failed: Seq[String] = failures.synchronized(failures.toSeq)

  def failedOps: Long = failures.synchronized(failedIds.size.toLong)

  /** Run `body` as operation `id`: its Spark jobs carry the id, its
    * wall time is measured (with spans when the run is traced), and the
    * listener is drained afterwards so its counters are complete. An
    * exception counts as a failed op.
    */
  def timed[A](id: String)(body: OpTrace => A): Option[A] = {
    val sc = spark.sparkContext
    sc.setLocalProperty(listener.OpKey, id)
    val t = new OpTrace(tracer, id, tracing)
    val gc0 = Jvm.gcMs
    val t0 = System.nanoTime()
    val out =
      try Some(t.span("op", None)(body(t)))
      catch {
        case e: Throwable =>
          failOp(id, s"$id threw ${e.getClass.getSimpleName}: " +
            e.getMessage)
          e.printStackTrace()
          None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    val gc = Jvm.gcMs - gc0
    sc.setLocalProperty(listener.OpKey, null)
    org.apache.spark.PerfbenchBridge.drain(sc)
    samples.synchronized { samples += OpSample(id, ms, listener.op(id), gc) }
    out
  }

  def attempted: Long = samples.synchronized(samples.size.toLong)

  /** Forget the operations and spans so far (an untimed warm-up); a
    * check it failed still fails the run.
    */
  def discard(): Unit = samples.synchronized {
    samples.clear()
    tracer.clear()
    failures.synchronized(failedIds.clear())
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Files {
  /** Every regular file under `f`. */
  def walk(f: File): Seq[File] =
    if (f.isFile) Seq(f)
    else Option(f.listFiles()).toSeq.flatten.flatMap(walk)

  def bytes(f: File): Long = walk(f).map(_.length).sum
}
