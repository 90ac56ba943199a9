package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Stage-granular shuffle meter shared by the scale smokes and [[Probe]]: total bytes
  * written across stages and the single largest stage — the peak is what
  * bounds executor/disk pressure at a fixed partition count.
  */
private[tools] final class SmokeMeter extends SparkListener {
  val total = new java.util.concurrent.atomic.AtomicLong(0)
  val peak = new java.util.concurrent.atomic.AtomicLong(0)
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
    total.addAndGet(w)
    peak.getAndAccumulate(w, (a, b) => math.max(a, b))
  }
  def reset(): Unit = { total.set(0); peak.set(0) }
}
