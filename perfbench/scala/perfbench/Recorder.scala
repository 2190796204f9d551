package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed operation. `ok` turns false on an exception or a wrong answer. */
final class Op(val id: Long, val kind: String, val traced: Boolean) {
  var start = 0.0
  var end = 0.0
  var ok = true
  var note = ""
  val extra = mutable.LinkedHashMap.empty[String, Any]
  def ms: Double = end - start
  def fail(why: String): Unit = { ok = false; if (note.isEmpty) note = why }
}

final case class Span(id: Int, parent: Int, name: String, op: Long, start: Double, end: Double)

/** Operations, spans and (when tracing) per-operation Spark counters for
  * one run. Times are milliseconds since the recorder was created; the job
  * listener's wall-clock times are mapped onto the same origin.
  *
  * Attribution: while a traced operation runs, its id sits in the Spark
  * local property [[Recorder.OpKey]]; every job submitted from that thread
  * carries it, and the listener charges the job, its stages and tasks to
  * that operation. Untraced operations leave the property unset. */
final class Recorder(spark: SparkSession, val tracing: Boolean) {
  import Recorder._

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - nano0) / 1e6

  val ops = mutable.ArrayBuffer.empty[Op]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextOp = 0L
  private var nextSpan = 0
  private val stack = new ThreadLocal[List[(Int, Long)]] { override def initialValue() = Nil }
  val values = mutable.LinkedHashMap.empty[String, Any]
  private val marks = mutable.LinkedHashMap.empty[String, Double]
  /** Notes when a phase of the run ended (reported, not a metric). */
  def mark(phase: String): Unit = marks(phase) = now

  val listener: Option[JobListener] =
    if (tracing) {
      val l = new JobListener(epoch0)
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  /** Runs `body` as one operation; exceptions fail the op and yield None. */
  def op[T](kind: String, traced: Boolean)(body: Op => T): (Op, Option[T]) = {
    val o = synchronized { nextOp += 1; val o = new Op(nextOp, kind, traced && tracing); ops += o; o }
    val sc = spark.sparkContext
    if (o.traced) sc.setLocalProperty(OpKey, o.id.toString)
    val saved = stack.get
    val rootSpan = if (o.traced) synchronized { nextSpan += 1; nextSpan } else 0
    if (o.traced) stack.set((rootSpan, o.id) :: saved)
    o.start = now
    val res =
      try Some(body(o))
      catch { case NonFatal(e) => o.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)); None }
    o.end = now
    stack.set(saved)
    if (o.traced) {
      sc.setLocalProperty(OpKey, null)
      record(Span(rootSpan, saved.headOption.map(_._1).getOrElse(0), kind, o.id, o.start, o.end))
    }
    (o, res)
  }

  /** A child span of the current traced operation; a plain call otherwise. */
  def span[T](name: String)(body: => T): T = stack.get match {
    case Nil => body
    case (parent, opId) :: _ =>
      val id = synchronized { nextSpan += 1; nextSpan }
      val saved = stack.get
      stack.set((id, opId) :: saved)
      val s = now
      try body
      finally {
        stack.set(saved)
        record(Span(id, parent, name, opId, s, now))
      }
  }

  /** A span that groups several operations (a suite pass, a cycle). */
  def group[T](name: String, traced: Boolean)(body: => T): T =
    if (!(traced && tracing)) body
    else {
      val id = synchronized { nextSpan += 1; nextSpan }
      val saved = stack.get
      stack.set((id, 0L) :: saved)
      val s = now
      try body
      finally {
        stack.set(saved)
        record(Span(id, saved.headOption.map(_._1).getOrElse(0), name, 0L, s, now))
      }
    }

  private def record(s: Span): Unit = synchronized { spans += s }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def liveHeapMb(): Double = {
    // Spark's ContextCleaner frees blocks asynchronously once a GC has
    // collected their references, so collect, pause, and collect again
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def toJson: Map[String, Any] = {
    listener.foreach(_ => org.apache.spark.perfbench.ListenerDrain(spark.sparkContext))
    Map(
      "values" -> (values.toMap + ("marks" -> marks.toMap)),
      "ops" -> ops.toSeq.map(o => Map("id" -> o.id, "kind" -> o.kind, "traced" -> o.traced,
        "start" -> o.start, "end" -> o.end, "ok" -> o.ok, "note" -> o.note) ++ o.extra),
      "spans" -> synchronized(spans.toSeq).map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start" -> s.start, "end" -> s.end)),
      "jobs" -> listener.map(_.jobsJson).getOrElse(Nil),
      "op_stats" -> listener.map(_.statsJson).getOrElse(Map.empty))
  }
}

object Recorder {
  val OpKey = "perfbench.op"
}

/** Charges jobs, stages, tasks and their I/O to the operation id found in
  * each job's local properties. */
final class JobListener(epoch0: Long) extends SparkListener {
  import JobListener.Job
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageOp = mutable.HashMap.empty[Int, Long]
  private val seenPersisted = mutable.HashSet.empty[Int]
  /** op -> stages, tasks, task ms, input, output, shuffle read, shuffle write bytes, new persisted RDDs */
  private val stats = mutable.HashMap.empty[Long, Array[Double]]
  private def slot(op: Long) = stats.getOrElseUpdate(op, new Array[Double](8))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.OpKey)))
    op.foreach { o =>
      jobs(e.jobId) = Job(o.toLong, e.jobId, (e.time - epoch0).toDouble, Double.NaN)
      e.stageIds.foreach(s => stageOp(s) = o.toLong)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = (e.time - epoch0).toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val persisted = e.stageInfo.rddInfos.filter(_.storageLevel.isValid).map(_.id)
    val fresh = persisted.filterNot(seenPersisted)
    seenPersisted ++= persisted
    stageOp.get(e.stageInfo.stageId).foreach { op =>
      val s = slot(op)
      s(0) += 1
      s(7) += fresh.size
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val s = slot(op)
      s(1) += 1
      Option(e.taskMetrics).foreach { m =>
        s(2) += m.executorRunTime
        s(3) += m.inputMetrics.bytesRead
        s(4) += m.outputMetrics.bytesWritten
        s(5) += m.shuffleReadMetrics.totalBytesRead
        s(6) += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def jobsJson: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map(j => Map("op" -> j.op, "id" -> j.id, "start" -> j.start,
      "end" -> Option(j.end).filterNot(_.isNaN)))
  }

  def statsJson: Map[String, Any] = synchronized {
    val names = Seq("stages", "tasks", "task_ms", "input_bytes", "output_bytes",
      "shuffle_read_bytes", "shuffle_write_bytes", "new_persisted_rdds")
    stats.toMap.map { case (op, a) => op.toString -> names.zip(a.toSeq).toMap }
  }
}

object JobListener {
  private final case class Job(op: Long, id: Int, start: Double, var end: Double)
}
