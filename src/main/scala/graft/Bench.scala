package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Benchmark main over SPARK_GRAFT_SF_DIR. With no arguments it times
  * every registered query and prints one JSON line; otherwise the first
  * argument picks a dev mode over the named queries:
  *
  * {{{
  * runMain graft.Bench                     # full run: stdout line + bench_full.json
  * runMain graft.Bench solo <query...>     # min of 3 runs per query
  * runMain graft.Bench profile <query...>  # per-job and per-stage lines of the warm run
  * runMain graft.Bench plan <query...>     # formatted plan, then the finalized
  *                                         # adaptive plan with operator metrics
  * }}}
  *
  * Every mode runs in one [[SparkBoot.session]] of SPARK_GRAFT_CPUS
  * cores (SPARK_GRAFT_MASTER applies) after one shared warm-up.
  *
  * The full run:
  *  - times each query twice and reports the min, which damps one-off
  *    GC/IO noise. The second run may reuse cache entries with an
  *    identical plan, so rows approximate warm steady state; the
  *    `<name>_build` and `<name>_probe` rows of [[BenchPhases.phased]]
  *    queries split the one-time construction from the steady-state read;
  *  - runs queries in name order in one session, so two runs compare
  *    like with like. A failing query perturbs JVM state for the rows
  *    after it, so a run with a non-empty `"failed"` list is not
  *    comparable with another run;
  *  - excludes failures from the total and gives each query a time
  *    budget (default 2.5 s, SPARK_GRAFT_BUDGET_SEC; exceptions in
  *    [[BenchPhases.budgetOverrides]]), applied to the probe row of a
  *    phased query and to the combined row otherwise. `"flagged"` names
  *    the rows over budget;
  *  - prints one stdout JSON line holding the full per-query map and
  *    writes the same record to `bench_full.json`. The line's keys and
  *    their order are a contract: entries may be added, never removed
  *    or renamed.
  *
  * Solo runs are a fresh JVM each and take about twice the warm
  * shared-session rows; compare solo with solo, on one machine state.
  */
object Bench {
  private val usage = "usage: Bench [solo|profile|plan <query...>]"

  def main(args: Array[String]): Unit = {
    val named = args.toSeq.drop(1).map(n => n -> SparkEntry.queries.getOrElse(n,
      throw new NoSuchElementException(s"unknown query: $n")))
    val mode: (SparkSession, String) => Unit = args.headOption match {
      case None => full
      case Some(_) if named.isEmpty => throw new IllegalArgumentException(usage)
      case Some("solo") => solo(named)
      case Some("profile") => profile(named)
      case Some("plan") => plan(named)
      case Some(m) => throw new IllegalArgumentException(s"unknown mode $m; $usage")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkBoot.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // Warm up the JVM/codegen/parquet reader paths so the first timed
    // query doesn't absorb session startup cost.
    try spark.range(1000000L).selectExpr("sum(id)").collect()
    catch { case _: Throwable => () }
    Seq("lineitem", "orders", "events", "documents", "embeddings").foreach { t =>
      try graft.queries.T.load(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    mode(spark, sfDir)
    spark.stop()
  }

  private type Query = (SparkSession, String) => DataFrame

  private def secs(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def full(spark: SparkSession, sfDir: String): Unit = {
    val budget = sys.env.getOrElse("SPARK_GRAFT_BUDGET_SEC", "2.5").toDouble
    def timed(fn: () => Unit): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try { fn(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] failed: ${e.getMessage}"); false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // name -> (seconds, ok, countsTowardTotal, budgetChecked)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Boolean, Boolean, Boolean)]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val (t1, ok1) = timed(() => fn(spark, sfDir).count())
      val combined =
        if (!ok1) (t1, false)
        else { val (t2, ok2) = timed(() => fn(spark, sfDir).count()); (math.min(t1, t2), ok2) }
      val phased = BenchPhases.phased.get(name)
      rows += ((name, combined._1, combined._2, true, phased.isEmpty))
      phased.foreach { mk =>
        var probe: () => DataFrame = null
        val (bt, bok) = timed(() => probe = mk(spark, sfDir))
        rows += ((s"${name}_build", bt, bok, false, false))
        if (bok) {
          val (p1, pok1) = timed(() => probe().count())
          val pr = if (!pok1) (p1, false)
            else { val (p2, pok2) = timed(() => probe().count()); (math.min(p1, p2), pok2) }
          rows += ((s"${name}_probe", pr._1, pr._2, false, true))
        }
      }
    }
    val good = rows.filter(_._3)
    val qs = good.map { case (k, v, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = rows.filterNot(_._3).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val total = good.filter(_._4).map(_._2).sum
    val flagged = good.filter { r =>
      r._5 && r._2 > BenchPhases.budgetOverrides.getOrElse(r._1, budget)
    }.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val fullPath = new java.io.File("bench_full.json").getAbsolutePath
    val record = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"flagged":$flagged,"budget_sec":$budget,"sf":"$sfDir","n_queries":${good.size}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath), record + "}\n")
    println(record + s""","full":"$fullPath"}""")
  }

  private def solo(named: Seq[(String, Query)])(spark: SparkSession, sfDir: String): Unit =
    named.foreach { case (name, fn) =>
      val ts = Seq.fill(3)(secs(fn(spark, sfDir).count()))
      println(f"[solo] $name%-32s min ${ts.min}%.3f s  (runs: ${ts.map(t => f"$t%.3f").mkString(", ")})")
    }

  private def profile(named: Seq[(String, Query)])(spark: SparkSession, sfDir: String): Unit = {
    val listener = new tools.TaskListener
    spark.sparkContext.addSparkListener(listener)
    named.foreach { case (name, fn) =>
      // the untraced cold run leaves codegen/cache state as in the
      // bench's warm regime; the traced run is the second one
      val cold = secs(fn(spark, sfDir).count())
      println(f"\n===== $name  (cold ${cold}%.3f s; jobs below are the WARM run) =====")
      listener.settle()
      listener.trace = true
      val warm = secs(fn(spark, sfDir).count())
      listener.settle()
      listener.trace = false
      println(f"[total] $name warm ${warm}%.3f s")
    }
  }

  private def plan(named: Seq[(String, Query)])(spark: SparkSession, sfDir: String): Unit = {
    def walk(p: SparkPlan, depth: Int): Unit = {
      val m = p.metrics.toSeq
        .filter { case (_, v) => v.value != 0 && v.value != -1 }
        .sortBy(_._1)
        .map { case (k, v) => s"$k=${v.value}" }.mkString(", ")
      println(("  " * depth) + p.nodeName + (if (m.isEmpty) "" else s"  [$m]"))
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case s: QueryStageExec => walk(s.plan, depth + 1)
        case _ => p.children.foreach(walk(_, depth + 1))
      }
    }
    named.foreach { case (name, fn) =>
      fn(spark, sfDir).count() // cold pass: codegen/cache state as in the bench
      val df = fn(spark, sfDir)
      println(s"\n========== $name ==========")
      df.explain("formatted")
      // execute THIS queryExecution (count() would plan a separate one,
      // leaving these operators' metrics empty)
      val n = df.queryExecution.executedPlan.execute().count()
      println(s"\n===== $name  (finalized, warm, $n result rows) =====")
      walk(df.queryExecution.executedPlan, 0)
    }
  }
}
