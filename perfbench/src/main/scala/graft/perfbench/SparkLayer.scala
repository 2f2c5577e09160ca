package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._

/** Task-layer totals from Spark's public listener events. */
final class SparkLayer extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val schedDelayMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m == null) return
    runMs.addAndGet(m.executorRunTime)
    cpuNs.addAndGet(m.executorCpuTime)
    gcMs.addAndGet(m.jvmGCTime)
    // scheduler delay as Spark's UI computes it: wall time of the task
    // not spent deserializing, running, or shipping its result
    val i = e.taskInfo
    val wall = if (i.finishTime > 0) i.finishTime - i.launchTime else 0L
    val gettingResult =
      if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
    schedDelayMs.addAndGet(math.max(0L, wall - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - gettingResult))
    shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "run_ms" -> runMs.get, "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
    "sched_delay_ms" -> schedDelayMs.get, "shuffle_write_bytes" -> shuffleWriteBytes.get,
    "spill_bytes" -> spillBytes.get)
}
