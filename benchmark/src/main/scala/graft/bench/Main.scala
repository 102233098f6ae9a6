package graft.bench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{BenchAccess, SparkSession}

import graft.{SparkBoot, SparkEntry}
import graft.functions.GraftFunctions

/** The benchmark's JVM side. `run.py` launches it twice at most:
  *
  *  - `--mode reseed`: writes the seeded substrate (untimed);
  *  - `--mode run`: sets up `--setups` times, runs one cold pass, one
  *    warm-up pass and `--passes` measured passes, then the correctness
  *    checks, and writes everything it measured to `--out` as JSON.
  *
  * With `--trace 1` every second measured pass runs with spans and a
  * SparkListener, so one run yields both the per-layer breakdown and the
  * tracing overhead against the untraced passes around it.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a("mode") match {
      case "reseed" => reseed(a)
      case "run" => run(a)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  private def boot(a: Map[String, String]): SparkSession = {
    val cores = a("cores")
    val s = SparkBoot.configure(SparkSession.builder(), SparkBoot.master(cores))
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a("run-dir")}/local")
      .config("spark.sql.warehouse.dir", s"${a("run-dir")}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def reseed(a: Map[String, String]): Unit = {
    val spark = boot(a)
    try graft.tools.Reseed.main(Array(a("source"), a("substrate"), a("seed")))
    finally spark.stop()
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def run(a: Map[String, String]): Unit = {
    val trace = a("trace") == "1"
    val dir = a("substrate")
    val runDir = a("run-dir")
    val make = () => Workloads(a("workload"), a("seed").toLong, dir, runDir)

    // Set-up, several times over; the last session is kept.
    val setups = a("setups").toInt
    val setup = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    for (i <- 0 until setups) {
      val t0 = System.nanoTime()
      spark = boot(a)
      GraftFunctions.register(spark)
      wl = make()
      wl.prepare(spark, i)
      setup += secs(t0)
      if (i < setups - 1) spark.stop()
    }
    wl.afterSetup(spark)

    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val ctx = new Ctx(spark, tracer)
    val listener = new LayerListener
    val ops = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
    val firstRows = mutable.Map.empty[String, Long]
    var nextOp = 0

    def runOp(op: Op, pass: Int, phase: String): Unit = {
      val id = nextOp
      nextOp += 1
      sc.setLocalProperty(Tracer.OpProp, id.toString)
      tracer.op = id
      val traced = tracer.enabled
      val watchFiles = traced && !op.sameEachPass && op.kind != "read"
      var rows = -1L
      var latency = 0.0
      var error: Option[String] = None
      def failed(e: Throwable) = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      try op.before() catch { case e: Throwable => error = failed(e) }
      val gc0 = if (traced) Probes.gc() else (0L, 0L)
      val st0 = Probes.storage(spark)
      val fs0 = if (watchFiles) wl.files() else Map.empty[String, Long]
      if (error.isEmpty) tracer.span("op") {
        val t0 = System.nanoTime()
        try rows = op.body(ctx)
        catch { case e: Throwable => error = failed(e) }
        latency = secs(t0)
        if (error.isEmpty) error = tracer.span("check") {
          op.check(rows).orElse(if (!op.sameEachPass) None else firstRows.get(op.name) match {
            case Some(r) if r != rows => Some(s"$rows rows, first pass had $r")
            case Some(_) => None
            case None => firstRows(op.name) = rows; None
          })
        }
      }
      val rec = mutable.LinkedHashMap[String, Any](
        "id" -> id, "name" -> op.name, "family" -> op.family, "kind" -> op.kind,
        "pass" -> pass, "phase" -> phase, "latency_s" -> latency, "rows" -> rows,
        "error" -> error.orNull)
      val st1 = Probes.storage(spark)
      rec("leaked") = st1._1 > st0._1 || st1._2 > st0._2
      if (traced) {
        val gc1 = Probes.gc()
        rec("gc_count") = gc1._1 - gc0._1
        rec("gc_ms") = gc1._2 - gc0._2
        if (watchFiles) {
          val fs1 = wl.files()
          val created = fs1.filter { case (p, _) => !fs0.contains(p) }
          val data = created.keys.count(p => p.endsWith(".parquet") &&
            !Seq("/_stats", "/_blooms", "/_dv").exists(p.contains))
          rec("files_written") = data
          rec("meta_files_written") = created.size - data
          rec("bytes_written") = created.values.sum
        }
        if (op.name == "readPoint") wl match {
          case s: StoreWorkload =>
            rec("point_files_read") = s.lastPointFiles._1
            rec("point_files_total") = s.lastPointFiles._2
          case _ =>
        }
      }
      ops += rec.asJava
    }

    def runPass(n: Int, phase: String): Double = {
      val t0 = System.nanoTime()
      wl.pass(spark, n).foreach(runOp(_, n, phase))
      secs(t0)
    }

    // One cold pass, one unmeasured warm-up pass (the JIT is still busy
    // through it), then a fixed number of measured passes, so every run of
    // a workload measures the same operations at the same warmth. Traced
    // runs alternate untraced and traced passes.
    val passes = a("passes").toInt
    val coldS = runPass(0, "cold")
    runPass(1, "warmup")
    var tracedS = 0.0
    for (n <- 2 to passes + 1) {
      if (trace && n % 2 == 1) {
        sc.addSparkListener(listener)
        tracer.enabled = true
        tracedS += runPass(n, "traced")
        tracer.enabled = false
        BenchAccess.drainListeners(sc)
        sc.removeSparkListener(listener)
      } else runPass(n, "warm")
    }
    sc.setLocalProperty(Tracer.OpProp, null)
    val (persistentEnd, cachedEnd, pinnedEnd) = Probes.storage(spark)

    // Correctness beyond the per-operation checks, outside every timing.
    val checks = mutable.ArrayBuffer.empty[(String, Option[String])]
    checks ++= wl.finalChecks(spark)
    // The heap is read once the workload's model is gone, so it holds the
    // engine's state and the run's small per-operation records only.
    wl.release()
    val heapLiveMb = Probes.heapLiveMb()
    if (a("dump-oracle") == "1") wl.oracleQueries.foreach { q =>
      try SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$runDir/oracle/$q")
      catch { case e: Throwable =>
        checks += (s"oracle.$q" -> Some(s"dump failed: ${e.getMessage}"))
      }
    }
    val extras = wl.extras(spark, runDir)

    val layers = listener.byOp.toSeq.map { case (op, x) =>
      Map[String, Any]("op" -> op, "jobs" -> x.jobs, "eager_jobs" -> x.eagerJobs,
        "stages" -> x.stages, "tasks" -> x.tasks, "task_run_ms" -> x.taskRunMs,
        "task_cpu_ns" -> x.taskCpuNs, "peak_mem" -> x.peakMem, "input_bytes" -> x.inputBytes,
        "shuffle_write" -> x.shuffleWrite, "shuffle_read" -> x.shuffleRead,
        "fetch_wait_ms" -> x.fetchWaitMs, "spill_bytes" -> x.spillBytes,
        "sched_wait_ms" -> x.schedWaitMs, "task_gc_ms" -> x.taskGcMs).asJava
    }
    val spans = tracer.spans.map(s => Map[String, Any]("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs).asJava)

    val result = mutable.LinkedHashMap[String, Any](
      "cores" -> a("cores").toInt,
      "setup_s" -> setup.asJava,
      "cold_pass_s" -> coldS,
      "traced_s" -> tracedS,
      "heap_live_mb" -> heapLiveMb,
      "storage_end" -> Map("persistent_rdds" -> persistentEnd, "cached_plans" -> cachedEnd,
        "pinned_mb" -> pinnedEnd).asJava,
      "ops" -> ops.asJava,
      "checks" -> checks.map { case (n, e) => Map("name" -> n, "error" -> e.orNull).asJava }.asJava,
      "oracle" -> wl.oracleQueries.map(q => q -> SparkEntry.oracleSql(q)).toMap.asJava,
      "extras" -> extras.asJava,
      "layers" -> layers.asJava,
      "spans" -> spans.asJava)
    spark.stop()
    Files.writeString(Paths.get(a("out")),
      new ObjectMapper().writeValueAsString(result.asJava))
  }
}
