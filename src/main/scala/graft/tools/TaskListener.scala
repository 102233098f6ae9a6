package graft.tools

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Listener shared by `graft.Bench profile` and [[ShuffleAudit]]. It
  * sums every finished task's shuffle bytes, spill and peak execution
  * memory; while `trace` is on it also prints one line per completed
  * stage and per job started under trace.
  */
final class TaskListener extends SparkListener {
  val shufRead, shufWrite, memSpill, diskSpill, peakTaskMem, tasks = new AtomicLong
  @volatile var trace = false
  private val jobStart = TrieMap.empty[Int, (Long, Int, String)]

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
      peakTaskMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      tasks.incrementAndGet()
    }
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = if (trace) {
    val desc = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobStart(js.jobId) = (System.nanoTime(), js.stageIds.size, desc)
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = if (trace) {
    val i = sc.stageInfo
    val m = i.taskMetrics
    val wall = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(-1L)
    println(f"[stage] id=${i.stageId}%4d wall=${wall}%5d ms tasks=${i.numTasks}%3d " +
      f"run=${m.executorRunTime}%5d deser=${m.executorDeserializeTime}%4d " +
      f"gc=${m.jvmGCTime}%4d cpu=${m.executorCpuTime / 1000000}%5d  ${i.name.take(60)}")
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    jobStart.remove(je.jobId).foreach { case (t0, nStages, desc) =>
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"[job] id=${je.jobId}%4d  ${ms}%9.1f ms  stages=$nStages%3d  $desc")
    }

  def snapshot: Seq[Long] = Seq(shufRead.get, shufWrite.get,
    memSpill.get, diskSpill.get, peakTaskMem.get, tasks.get)

  def reset(): Unit =
    Seq(shufRead, shufWrite, memSpill, diskSpill, peakTaskMem, tasks).foreach(_.set(0L))

  /** Waits until the async listener bus has drained the task events of
    * the work so far: the counters must hold still for three
    * consecutive 100 ms polls (5 s at most).
    */
  def settle(): Unit = {
    var last = snapshot
    var stable = 0
    var waited = 0
    while (stable < 3 && waited < 5000) {
      Thread.sleep(100); waited += 100
      val now = snapshot
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }
}
