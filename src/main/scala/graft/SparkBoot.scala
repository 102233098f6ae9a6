package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Session bootstrap for every main and the test suite: the master
  * comes from `SPARK_GRAFT_MASTER` (default `local[cpus]`), and a
  * multi-JVM `local-cluster[n,cores,memMB]` master additionally gets
  * the two things forked executor JVMs cannot inherit from this JVM —
  * the application classpath (Spark's own jars arrive via SPARK_HOME)
  * and the JDK-17 `--add-opens` set that spark-submit would normally
  * inject.
  *
  * Why this exists: `local[k]` runs every task inside the driver JVM,
  * so closure serialization, TypedImperativeAggregate buffer ser/de,
  * and broadcast transport are exercised only in-process — real
  * executors deserialize task binaries and aggregate buffers from
  * bytes. `SPARK_HOME=/opt/spark SPARK_GRAFT_MASTER=
  * local-cluster[2,8,3072]` runs the same oracle gate with tasks in
  * separate executor processes, the execution shape a 1000-executor
  * cluster has (CORRECTNESS_cluster.json is that run's artifact).
  */
object SparkBoot {

  /** Master URL: `SPARK_GRAFT_MASTER` if set, else `local[defaultCores]`. */
  def master(defaultCores: String): String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$defaultCores]")

  /** The `--add-opens` flags this JVM was started with (build.sbt's
    * list, which spark-submit would otherwise inject), for the forked
    * executors. The JVM reports `--add-opens a=b` as `--add-opens=a=b`.
    */
  private[graft] def addOpens: Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filter(_.startsWith("--add-opens="))

  /** This JVM's Scala binary version ("2.13"), shipped to the executor
    * launch environment: Spark's launcher
    * (`AbstractCommandBuilder.getScalaVersion`) probes
    * `$SPARK_HOME/launcher/target/scala-*` build directories unless
    * `SPARK_SCALA_VERSION` tells it outright, and the binary
    * distribution at /opt/spark has no build directories — without the
    * variable every executor launch dies with `IllegalStateException:
    * Cannot find any build directories` and the app is removed after
    * 10 failures. `spark.executorEnv.*` reaches the worker-side command
    * builder via the application description's command environment, so
    * the recipe needs NO undocumented shell state.
    */
  private val scalaBinaryVersion: String =
    scala.util.Properties.versionNumberString.split('.').take(2).mkString(".")

  /** Apply `m` to the builder; a local-cluster master also ships this
    * JVM's classpath, module options, and Scala version to the forked
    * executors. `java.class.path` is trustworthy here because every
    * entry point runs forked (`run / fork := true`, `Test / fork :=
    * true`). Full recipe (clean shell):
    * {{{
    *   SPARK_HOME=/opt/spark SPARK_GRAFT_MASTER=local-cluster[2,8,3072] \
    *     sbt "runMain graft.Verify /root/testdata/sf0.01 target/verify_out"
    * }}}
    */
  def configure(b: SparkSession.Builder, m: String): SparkSession.Builder =
    if (!m.startsWith("local-cluster")) b.master(m)
    else b.master(m)
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpens.mkString(" "))
      .config("spark.executorEnv.SPARK_SCALA_VERSION", scalaBinaryVersion)

  /** The session every main uses: [[configure]]d for [[master]]`(cores)`,
    * `cores` shuffle partitions, UTC session time, no UI, WARN logging.
    * An existing session is returned by `getOrCreate` with these
    * settings applied to it, so callers that must keep a caller's
    * session untouched check for one first.
    */
  def session(cores: String): SparkSession = {
    val s = configure(SparkSession.builder(), master(cores))
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
