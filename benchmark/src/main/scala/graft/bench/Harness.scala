package graft.bench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{BenchAccess, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** One closed-loop operation. `before` draws the operation's inputs
  * before the latency clock starts; `body` calls into the engine's
  * public functions and returns the number of rows it materialized;
  * `check` receives that count and returns an error message when the
  * result is wrong. With `sameEachPass`, the count must also equal the
  * first pass's. Checking runs after the latency clock stops.
  */
final case class Op(
    name: String,
    family: String,
    kind: String, // query | write | read | maint
    body: Ctx => Long,
    check: Long => Option[String] = _ => None,
    sameEachPass: Boolean = true,
    before: () => Unit = () => ())

/** A finished span: `parent` is -1 for an operation's root span. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, `span` runs its body and nothing
  * else, so untraced and traced operations execute the same code.
  */
final class Tracer(sc: SparkContext) {
  var enabled = false
  var op: Int = -1
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val outer = sc.getLocalProperty(Tracer.SpanProp)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProp, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, outer)
        spans += Span(id, parent, name, op, t0, t1)
      }
    }
}

object Tracer {
  val OpProp = "graft.bench.op"
  val SpanProp = "graft.bench.span"
}

/** What an operation sees: the session, the tracer, and the one way to
  * run a DataFrame to completion.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Full materialization: plans the frame once, then runs its physical
    * plan and counts the rows. Every output column is computed, unlike
    * `count()`, which lets Catalyst prune the projection away.
    */
  def materialize(df: DataFrame): Long = {
    val qe = span("catalyst.plan") {
      val qe = df.queryExecution
      qe.executedPlan
      qe
    }
    span("exec.run") {
      SQLExecution.withNewExecutionId(qe, Some("graft-bench"))(
        qe.executedPlan.execute().count())
    }
  }
}

/** Per-operation Spark counters, keyed by the operation id carried in
  * the job's local properties.
  */
final class LayerListener extends SparkListener {
  final class Acc {
    var jobs, eagerJobs, stages, tasks = 0L
    var taskRunMs, taskCpuNs, peakMem, inputBytes = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L
    var schedWaitMs, taskGcMs = 0L
  }

  val byOp = mutable.Map.empty[Int, Acc]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageFirstLaunch = mutable.Map.empty[Int, Long]

  private def acc(op: Int): Acc = byOp.getOrElseUpdate(op, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Tracer.OpProp))).map(_.toInt).getOrElse(-1)
    val a = acc(op)
    a.jobs += 1
    if (props.flatMap(p => Option(p.getProperty(Tracer.SpanProp))).contains("queries.build"))
      a.eagerJobs += 1
    e.stageIds.foreach(s => stageOp(s) = op)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val t = e.taskInfo.launchTime
    stageFirstLaunch(e.stageId) = stageFirstLaunch.get(e.stageId).fold(t)(math.min(_, t))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val a = acc(stageOp.getOrElse(id, -1))
    a.stages += 1
    for (s <- stageSubmit.remove(id); l <- stageFirstLaunch.remove(id))
      a.schedWaitMs += math.max(0L, l - s)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageOp.getOrElse(e.stageId, -1))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskRunMs += m.executorRunTime
      a.taskCpuNs += m.executorCpuTime
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.diskBytesSpilled
      a.taskGcMs += m.jvmGCTime
    }
  }
}

/** JVM-side probes read around each traced operation. */
object Probes {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** (collections, collection time in ms) summed over all collectors. */
  def gc(): (Long, Long) =
    (gcBeans.map(b => math.max(0L, b.getCollectionCount)).sum,
      gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum)

  /** Used heap after a forced collection, in MiB: the least of three,
    * a moment apart, so references the collection enqueues for Spark's
    * ContextCleaner are released before the next one.
    */
  def heapLiveMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** (persistent RDDs, cached plans, storage memory in use in MiB). */
  def storage(spark: SparkSession): (Int, Int, Double) = {
    val sc = spark.sparkContext
    val usedMb = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0
    (sc.getPersistentRDDs.size, BenchAccess.cachedPlans(spark), usedMb)
  }
}
