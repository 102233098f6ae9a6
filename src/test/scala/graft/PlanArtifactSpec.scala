package graft

import java.nio.file.{Files, Paths}

import graft.tools.PlanReport

/** The committed PLANS.md must equal what PlanReport would write for
  * the CURRENT registry and plans — recomputed here with the exact
  * writer code, so a new query, a removed query, or a plan-shape change
  * (a gained Exchange, a lost pushdown, a new BNLJ) that isn't followed
  * by a `Test/runMain graft.tools.PlanReport` refresh fails `sbt test`
  * instead of shipping a stale artifact. (PlanLintSpec enforces the
  * hard structural rules; this pins the REPORT to reality.)
  */
class PlanArtifactSpec extends SparkSuite {

  // computed once, shared by both tests (each row costs two planning
  // passes since the codegen column re-plans with AQE off)
  private lazy val liveRows: Seq[Seq[String]] = {
    graft.functions.GraftFunctions.register(spark)
    // Earlier suites cache frames over the same testdata parquet; the
    // shared CacheManager would then swap InMemoryRelation into the
    // recomputed plans and report phantom drift (scan/pushdown cells).
    // PlanReport's main runs in a fresh session; match that here.
    spark.catalog.clearCache()
    PlanReport.computeRows(spark, "/root/testdata/sf0.001")
  }

  test("committed PLANS.md matches the live plans row-for-row") {
    val path = Paths.get("PLANS.md")
    assert(Files.exists(path), "PLANS.md missing — run `sbt \"Test/runMain graft.tools.PlanReport\"`")
    val committed = Files.readString(path)
    val live = PlanReport.render(liveRows)

    def table(s: String): Map[String, String] =
      s.linesIterator.filter(l => l.startsWith("| ") && !l.startsWith("| ---"))
        .drop(1) // header row
        .map(l => l.split("\\|")(1).trim -> l.trim).toMap

    val c = table(committed)
    val l = table(live)
    val diffs =
      (l.keySet -- c.keySet).toSeq.sorted.map(q => s"NOT IN PLANS.md: ${l(q)}") ++
      (c.keySet -- l.keySet).toSeq.sorted.map(q => s"GONE FROM REGISTRY: $q") ++
      (c.keySet & l.keySet).toSeq.sorted.collect {
        case q if c(q) != l(q) => s"DRIFTED: committed ${c(q)}\n         live      ${l(q)}"
      }
    assert(diffs.isEmpty,
      s"""PLANS.md is stale — refresh with `sbt "Test/runMain graft.tools.PlanReport"`:
         |${diffs.take(12).mkString("\n")}""".stripMargin)
  }

  /** The hot relational paths must EXECUTE inside whole-stage codegen,
    * not merely be composed of codegen-capable expressions — this pins
    * the measured span count (AQE-off planning pass, see PlanReport)
    * to nonzero for the queries where a lost span would mean a real
    * interpreted-path regression (a UDF creeping in, a non-codegen
    * Expression landing on the hot path).
    */
  test("hot relational queries carry at least one WholeStageCodegen span") {
    val hot = Seq(
      "q01_pricing_summary", "q02_filter_daterange", "q03_topk_orders",
      "q04_join3_revenue", "q05_fullouter_mirror", "q07_latest_per_key",
      "q08_lag_variation", "q10_monthly_agg", "q11_daily_by_type",
      "q13_pivot_events", "q28_weekly_agg", "q30_asof_join",
      "t01_token_counts", "d01_exact_dedup", "f01_parse_br_decimal",
      "g01_uf_lookup", "v01_contract_violations", "v02_pk_duplicates")
    val idx = PlanReport.header.indexOf("codegen spans")
    val byName = liveRows.map(r => r.head -> r(idx)).toMap
    val missing = hot.distinct.filter(n => byName.get(n).forall(_ == "0"))
    assert(missing.isEmpty,
      s"hot queries with ZERO WholeStageCodegen spans: ${missing.mkString(", ")}")
  }
}
