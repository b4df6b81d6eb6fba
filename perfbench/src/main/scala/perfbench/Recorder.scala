package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call of the benchmark's single client. */
final case class OpRecord(id: Int, kind: String, startMs: Long, endMs: Long, ms: Double,
    traced: Boolean)

/** A traced call into one layer: `name` is `<layer>.<call>`; `parent` is
  * the enclosing span (-1 for an op's root span); `opId` ties every span
  * of one op together.
  */
final class Span(val id: Int, val parent: Int, val opId: Int, val name: String,
    val startNs: Long, var endNs: Long = -1L) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (endNs - startNs) / 1e6
}

/** The result of one op: its value, or None when it threw. */
final case class Op[A](id: Int, kind: String, ms: Double, value: Option[A])

/** Op log, failure accounting and (when tracing) the span recorder.
  *
  * Every op gets an id that is also set as the Spark local property
  * `perfbench.op`, so the listener can attribute jobs to ops: there is
  * one client thread, so every job launched while an op runs is that
  * op's. An op fails when it throws or when a check on its output fails;
  * the exception class and message, or the check's message, is kept.
  */
final class Recorder(sc: () => Option[SparkContext], val tracing: Boolean) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val spans = mutable.ArrayBuffer.empty[Span]
  val failures = mutable.LinkedHashMap.empty[Int, (String, String)]
  /** Warm-up ops are logged under `warmup.<kind>`, apart from measured
    * ones, and get no spans.
    */
  var warming = false
  /** Set for the untraced control ops of a traced run. */
  var quiet = false
  def spanning: Boolean = tracing && !warming && !quiet
  private var stack: List[Span] = Nil
  private var nextOp = 0
  private var currentOp = -1

  def attempted: Int = ops.length
  def failed: Int = failures.size

  def op[A](opKind: String)(body: => A): Op[A] = {
    val kind = if (warming) s"warmup.$opKind" else opKind
    val id = nextOp
    nextOp += 1
    currentOp = id
    sc().foreach(_.setLocalProperty("perfbench.op", id.toString))
    val startMs = System.currentTimeMillis()
    val t = System.nanoTime()
    val root = if (spanning) Some(open(s"op.$kind")) else None
    val value =
      try Some(body)
      catch {
        case NonFatal(e) =>
          fail(id, kind, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
          None
      }
    root.foreach(close)
    val ms = (System.nanoTime() - t) / 1e6
    sc().foreach(_.setLocalProperty("perfbench.op", null))
    ops += OpRecord(id, kind, startMs, System.currentTimeMillis(), ms, root.isDefined)
    currentOp = -1
    Op(id, kind, ms, value)
  }

  /** A failed output check fails its op (once; the first reason is kept). */
  def check(op: Op[_], ok: Boolean, msg: => String): Boolean = {
    if (!ok) fail(op.id, op.kind, s"check failed: $msg")
    ok
  }

  private def fail(id: Int, kind: String, reason: String): Unit =
    if (!failures.contains(id)) failures(id) = (kind, reason)

  def span[A](name: String)(body: => A): A =
    if (!spanning) body
    else {
      val s = open(name)
      try body finally close(s)
    }

  private def open(name: String): Span = {
    val s = new Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), currentOp, name,
      System.nanoTime())
    spans += s
    stack = s :: stack
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    stack = stack.tail
  }

  /** Self time per layer: each span's duration minus its children's. */
  def selfTimeByLayer: Map[String, Double] = {
    val childMs = mutable.HashMap.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.iterator.map(s => s.ms - childMs(s.id)).sum
    }
  }
}

/** Per-op Spark execution counts, attributed through the `perfbench.op`
  * local property each job carries.
  */
final class OpListener extends SparkListener {
  final class Counts {
    var jobs = 0; var stages = 0; var tasks = 0
    var taskRunMs = 0L; var taskCpuNs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val byOp = mutable.HashMap.empty[Int, Counts]
  private val jobOp = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageOp = mutable.HashMap.empty[Int, Int]

  def counts(op: Int): Option[Counts] = synchronized(byOp.get(op))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op"))).foreach { o =>
      val op = o.toInt
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageOp(_) = op)
      byOp.getOrElseUpdate(op, new Counts).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { op =>
      byOp(op).jobSpans += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOp.get(info.stageId).foreach { op =>
      val c = byOp.getOrElseUpdate(op, new Counts)
      c.stages += 1
      c.tasks += info.numTasks
      Option(info.taskMetrics).foreach { m =>
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}
