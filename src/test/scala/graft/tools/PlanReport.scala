package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.queries.QueryRegistry

/** Plan-audit artifact: one row per registered query with the
  * structural facts that matter at 100 TB — how many shuffles, how
  * many scans, whether the scans carry pushed filters, which join
  * strategies appear, and how much of the plan runs inside whole-stage
  * codegen. Written to PLANS.md so a reviewer can audit every query's
  * shape without rebuilding the plans. (PlanLintSpec enforces the hard
  * rules; this REPORTS the full picture.)
  */
object PlanReport {

  private def count(hay: String, needle: String): Int =
    needle.r.findAllMatchIn(hay).size

  /** One structural-facts row per registered query, computed from the
    * live plans. Shared by the artifact writer ([[main]]) and
    * `PlanArtifactSpec`, which recomputes these rows in `sbt test` and
    * fails if the committed PLANS.md drifted — so artifact staleness
    * breaks the suite, not a later review.
    */
  def computeRows(spark: SparkSession, dir: String): Seq[Seq[String]] =
    QueryRegistry.all.sortBy(_.name).map { q =>
      val plan =
        try q.fn(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"PLANNING FAILED: ${e.getMessage}" }
      // formatted explain = operator tree, blank line, numbered node
      // details; count operators from the TREE so the details section
      // doesn't double them
      val tree = plan.split("\n\n").headOption.getOrElse(plan)
      val joins = Seq(
        "BHJ" -> count(tree, "BroadcastHashJoin"),
        "SMJ" -> count(tree, "SortMergeJoin"),
        "SHJ" -> count(tree, "ShuffledHashJoin"),
        "BNLJ" -> count(tree, "BroadcastNestedLoopJoin"))
        .filter(_._2 > 0).map { case (k, n) => s"$k×$n" }.mkString(" ")
      val pushedNonEmpty = "PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined
      // Codegen spans are invisible in the un-executed ADAPTIVE plan
      // (AQE annotates codegen ids only once stages finalize), so the
      // count comes from a second planning pass with AQE off — same
      // operators, same codegen fusion decisions, ids annotated at
      // plan time. Distinct ids = WholeStageCodegen subtrees.
      val codegenSpans =
        try {
          val prev = spark.conf.get("spark.sql.adaptive.enabled")
          spark.conf.set("spark.sql.adaptive.enabled", "false")
          try {
            val p = q.fn(spark, dir).queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            "codegen id : (\\d+)".r.findAllMatchIn(p).map(_.group(1)).toSet.size
          } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
        } catch { case _: Throwable => 0 }
      Seq(
        q.name,
        count(tree, "\\bExchange\\b").toString, // shuffle Exchanges (\b excludes BroadcastExchange)
        count(tree, "Scan parquet").toString,
        if (pushedNonEmpty) "yes"
        else if (plan.contains("PushedFilters")) "none" else "-",
        if (joins.isEmpty) "-" else joins,
        codegenSpans.toString,
        if (q.oracle.isDefined) "oracle" else "rows+spec")
    }

  val header = Seq("query", "exchanges", "parquet scans", "pushed filters",
    "joins", "codegen spans", "check")

  /** The full PLANS.md text for a row set — the committed artifact is
    * exactly `render(computeRows(...))`, so the spec's comparison can
    * never diverge from the writer.
    */
  def render(rows: Seq[Seq[String]]): String = {
    val md = new StringBuilder
    md.append("# Plan audit — every registered query, structural facts\n\n")
    md.append("Generated by `sbt \"Test/runMain graft.tools.PlanReport\"` at sf0.001\n")
    md.append("(plans are data-size independent apart from AQE's runtime\n")
    md.append("re-planning).\n")
    md.append("`exchanges` counts shuffle boundaries; `pushed filters` says\n")
    md.append("whether at least one parquet scan carries a pushdown; joins\n")
    md.append("are BroadcastHash/SortMerge/ShuffledHash/BroadcastNestedLoop.\n")
    md.append("BNLJ appears only in the PlanLintSpec-declared designs.\n")
    md.append("`codegen spans` counts distinct WholeStageCodegen subtrees in a\n")
    md.append("second planning pass with AQE disabled (AQE hides codegen ids\n")
    md.append("until stages finalize; fusion decisions are identical) — 0 means\n")
    md.append("the query's output stage genuinely has no codegen span (e.g. a\n")
    md.append("TypedImperativeAggregate or an object-producing operator at the\n")
    md.append("root), not an instrumentation gap.\n\n")
    md.append(header.mkString("| ", " | ", " |")).append('\n')
    md.append(header.map(_ => "---").mkString("| ", " | ", " |")).append('\n')
    rows.foreach(r => md.append(r.mkString("| ", " | ", " |")).append('\n'))
    md.toString
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.SparkBoot.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    graft.functions.GraftFunctions.register(spark)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val rows = computeRows(spark, dir)
    Files.writeString(Paths.get("PLANS.md"), render(rows))
    println(s"wrote PLANS.md (${rows.size} queries)")
    spark.stop()
  }
}
