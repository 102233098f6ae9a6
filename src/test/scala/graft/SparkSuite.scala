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
