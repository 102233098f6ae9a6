package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for pipeline tests. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session

  /** Every physical node in the frame's executed plan, unwrapped
    * through the AQE wrappers (AdaptiveSparkPlanExec and query stages
    * are LEAF nodes — a plain collect stops at them). Structural plan
    * assertions match on these node classes instead of rendered plan
    * substrings, so they survive Spark-version / codegen rendering
    * changes.
    */
  def planNodes(df: DataFrame): Seq[SparkPlan] = {
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case n => n }.flatMap {
        case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case s: QueryStageExec        => flatten(s.plan)
        case n                        => Seq(n)
      }
    flatten(df.queryExecution.executedPlan)
  }

  /** `body`'s result and the stage names of every Spark job it started,
    * of any kind: an action's jobs carry a SQL execution id, a parquet
    * schema-inference job carries none. `body` runs under a job group of
    * its own; a sentinel job in another group marks the point every
    * earlier listener event has arrived.
    */
  def jobsStartedBy[T](body: => T): (T, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"build-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""),
          e.stageInfos.map(_.name).mkString(";")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-sentinel", "")
      try spark.range(1).count() finally sc.clearJobGroup()
      def seen = jobs.asScala.toSeq
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.exists(_._1 == s"$group-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.exists(_._1 == s"$group-sentinel"), "listener never saw the sentinel job")
      (out, seen.collect { case (`group`, stages) => stages })
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = () // shared session; JVM exit cleans up
}

object SparkSuite {
  // Cross-JVM gate for closures/agg buffers/broadcasts — full recipe,
  // clean shell (SparkBoot ships classpath, --add-opens, and
  // SPARK_SCALA_VERSION to the forked executors; nothing else needed):
  //   SPARK_HOME=/opt/spark SPARK_GRAFT_MASTER=local-cluster[2,8,3072] \
  //     sbt "testOnly graft.TxStoreSpec graft.StreamingSpec ..."
  // Default master is local[2].
  lazy val session: SparkSession = {
    val s = SparkBoot.session("2")
    graft.functions.GraftFunctions.register(s)
    s
  }
}
