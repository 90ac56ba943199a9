package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** A timed interval of one operation. `layer` is the span name's prefix. */
final case class Span(op: Long, id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the traced run. The benchmark's own code opens
  * spans around each public call into a layer; Spark's phases and jobs join
  * as child spans (see [[SparkProbe]]). Written out once, when the run ends.
  */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var opId = 0L
  private var nextId = 0
  private val stack = mutable.Stack.empty[Int]
  /** The op key of every op, by op id. */
  val keys = mutable.Map.empty[Long, String]

  def op[T](name: String, key: String)(f: => T): T = {
    opId += 1
    keys(opId) = key
    span(name)(f)
  }

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val t0 = System.nanoTime()
    try f
    finally {
      stack.pop()
      spans += Span(opId, id, parent, name, t0, System.nanoTime())
    }
  }

  def renameLast(name: String): Unit = spans(spans.size - 1) = spans.last.copy(name = name)

  /** Attach spans measured elsewhere (Spark phases and jobs) to the innermost
    * recorded span of the current op that contains their midpoint.
    */
  def attach(extra: Seq[(String, Long, Long)]): Unit = {
    val mine = spans.reverseIterator.takeWhile(_.op == opId).toSeq
    extra.foreach { case (name, s, e) =>
      val mid = (s + e) / 2
      val host = mine.filter(sp => sp.startNs <= mid && mid <= sp.endNs)
        .sortBy(sp => sp.endNs - sp.startNs).headOption
      host.foreach { h =>
        spans += Span(opId, nextId, h.id, name, math.max(s, h.startNs), math.min(e, h.endNs))
        nextId += 1
      }
    }
  }

  /** Self time of every span: its duration minus the part its children cover. */
  def selfTimes: Seq[(Span, Double)] = {
    val children = spans.groupBy(s => (s.op, s.parent))
    spans.toSeq.map { s =>
      val kids = children.getOrElse((s.op, s.id), Nil)
      s -> math.max(0.0, s.ms - kids.map(_.ms).sum)
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(compact(render(JObject("op" -> JInt(s.op), "key" -> JString(keys.getOrElse(s.op, "")),
        "id" -> JInt(s.id), "parent" -> JInt(s.parent), "name" -> JString(s.name),
        "start_ns" -> JInt(s.startNs), "end_ns" -> JInt(s.endNs)))))
      w.newLine()
    } finally w.close()
  }
}

/** Spark's own figures, read through listeners the benchmark registers: job
  * walls, per-stage task metrics, and the planning phases of every query
  * execution that ran an action.
  */
final class SparkProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  /** nanoTime = epochMs * 1e6 + offset */
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(epochMs: Long) = epochMs * 1000000L + offsetNs

  final case class Totals(
      var jobs: Long = 0, var stages: Long = 0, var tasks: Long = 0, var taskMs: Double = 0,
      var inputB: Double = 0, var shuffleReadB: Double = 0, var shuffleWriteB: Double = 0,
      var spillB: Double = 0, var gcMs: Double = 0)
  val totals = Totals()
  /** max / median task duration, one value per completed stage. */
  val stageSkew = mutable.ArrayBuffer.empty[Double]
  /** (phase, ms) of each executed query. */
  val phases = mutable.ArrayBuffer.empty[(String, Double)]
  private val pending = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val taskDur = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Spans observed since the last call (waits for the listener bus first). */
  def take(): Seq[(String, Long, Long)] = {
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    synchronized { val out = pending.toList; pending.clear(); out }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStart(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { s =>
      totals.jobs += 1
      pending += (("spark.exec", ns(s), ns(e.time)))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskDur.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    totals.stages += 1
    totals.tasks += i.numTasks
    val m = i.taskMetrics
    if (m != null) {
      totals.taskMs += m.executorRunTime
      totals.inputB += m.inputMetrics.bytesRead
      totals.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      totals.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      totals.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      totals.gcMs += m.jvmGCTime
    }
    taskDur.remove(i.stageId).filter(_.nonEmpty).foreach { ds =>
      val sorted = ds.sorted
      val med = sorted(sorted.size / 2)
      if (med > 0) stageSkew += sorted.last.toDouble / med
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, p) =>
      if (phase != "parsing") {
        phases += ((phase, p.durationMs.toDouble))
        pending += ((s"catalyst.$phase", ns(p.startTimeMs), ns(p.endTimeMs)))
      }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
