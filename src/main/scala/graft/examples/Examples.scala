package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.Skipping

/** Runnable end-to-end examples — the `examples/` directory of the
  * reference (`/root/reference/examples/analise_soja.py`,
  * `pipeline_v07.py`) re-expressed over this engine. Each example is a
  * `run(spark, sfDir, workDir)` returning a small summary frame, plus
  * a standalone `main`, and `ExamplesSpec` executes every `run` in CI
  * so the examples cannot rot. Launch standalone with e.g.
  *
  * {{{
  * sbt "runMain graft.examples.Examples quickstart /root/testdata/sf0.001"
  * }}}
  *
  * (or `dedup`, `ann`, `streaming`, `all` as the first argument).
  */
object Examples {

  private def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Skipping.readParquet(spark, s"$dir/$name.parquet")

  /** Example 1 — the reference's core loop (load → validate → query →
    * store → export): read a fact table, gate it with a contract-style
    * quality certificate, aggregate monthly revenue, commit it to a
    * transactional table, upsert a correction, read the audit trail,
    * and export with a content-hash sidecar.
    */
  def quickstart(spark: SparkSession, sfDir: String, workDir: String): DataFrame = {
    import graft.store.{Store, TxStore}
    graft.api.Graft.functions(spark) // SQL function library

    // LOAD + QUERY: monthly revenue, a declarative one-pass aggregate
    val orders = table(spark, sfDir, "orders")
    val monthly = orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))

    // VALIDATE: one-pass quality certificate over the fact frame
    val cert = graft.api.Graft.certify(
      orders.select(col("o_orderdate").cast("date").as("data"),
        col("o_totalprice").as("valor")),
      expectedColumns = Seq("data", "valor"), dateCol = "data",
      valueCol = "valor", asOf = "1998-12-31", maxAgeDays = 3650,
      minValue = 0.0, maxValue = 1e9)

    // STORE: versioned commit + upsert; every change is time-travelable
    val root = s"$workDir/monthly_revenue"
    TxStore.init(monthly, root)
    val correction = monthly.limit(1)
      .withColumn("revenue", col("revenue") + 1.0)
    TxStore.commitUpsert(spark, root, correction, Seq("month"))
    val audit = TxStore.history(spark, root) // 2 commits: init + upsert

    // EXPORT: parquet + .meta.json provenance sidecar with content hash
    val hash = Store.exportWithHash(TxStore.read(spark, root),
      s"$workDir/monthly_export", hashCols = Seq("month", "revenue"))

    cert.select(lit("quickstart").as("example"),
        concat(lit("certificate="), col("level"),
          lit(" score="), col("score")).as("detail"))
      .union(audit.agg(concat(lit("commits="), count(lit(1))).as("d"))
        .select(lit("quickstart").as("example"), col("d")))
      .union(spark.range(1).select(lit("quickstart").as("example"),
        concat(lit("export_sha256="), lit(hash.take(8))).as("detail")))
  }

  /** Example 2 — the dedup pipeline (the FineWeb/C4-style curation
    * pass): exact duplicates, then exact shingle-Jaccard near-dup
    * pairs (prefix-filtered similarity join, never all-pairs), closed
    * into clusters by distributed connected components, with one
    * canonical survivor kept per cluster.
    */
  def dedupPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.api.Graft
    val docs = table(spark, sfDir, "documents")
    val exact = Graft.dedupExact(docs, col("doc_id"), col("text"))
    val pairs = Graft.nearDupPairs(docs, col("doc_id"), col("text"), tau = 0.6)
    // clusters arrive rolled up: (cluster_id, n_docs, doc_ids); the
    // canonical survivor is the lexicographically first member
    val clusters = Graft.nearDupClusters(pairs)
      .withColumn("keep_id", split(col("doc_ids"), ",")(0))
    val stats = clusters.agg(count(lit(1)).as("n_clusters"),
      sum(col("n_docs") - 1).as("docs_dropped")).collect()(0)
    spark.range(1).select(lit("dedup").as("example"), concat(
      lit("exact_groups="), lit(exact.count()),
      lit(" neardup_pairs="), lit(pairs.count()),
      lit(" clusters="), lit(stats.getLong(0)),
      lit(" docs_dropped="), lit(stats.getLong(1))).as("detail"))
  }

  /** Example 3 — ANN build + probe: train an IVF coarse quantizer,
    * build the cell-partitioned index, probe it with partition
    * pruning, and report recall@10 against the exact brute-force
    * answer (the certification twin).
    */
  def annIndex(spark: SparkSession, sfDir: String, workDir: String): DataFrame = {
    import graft.ops.VectorSearch
    val vecs = table(spark, sfDir, "embeddings")
    val query = vecs.filter(col("vec_id") === 0).select(col("embedding"))
    val base = vecs.filter(col("vec_id") =!= 0)

    val cents = VectorSearch.trainCentroids(base, "vec_id", "embedding",
      c = 16, iters = 3)
    val path = s"$workDir/ivf_index"
    VectorSearch.buildIvfIndex(base, "vec_id", "embedding", cents, path)

    def topIds(scored: DataFrame): Seq[Long] =
      scored.orderBy(col("sim").desc, col("vec_id"))
        .select("vec_id").limit(10).collect().map(_.getLong(0)).toSeq
    // nprobe trades recall for scan fraction; probing ALL cells must
    // recover the exact brute-force answer (the index never loses a
    // vector). The test substrate is deliberately isotropic — the
    // hardest case for any cell pruning — so partial-probe recall
    // here is a floor, not what clustered production embeddings give.
    val partial = topIds(VectorSearch.probeIvfIndex(
      spark, path, query, "embedding", cents, nprobe = 4))
    val full = topIds(VectorSearch.probeIvfIndex(
      spark, path, query, "embedding", cents, nprobe = 16))
    val exact = topIds(VectorSearch.bruteForceTopK(
      base, query, "embedding", k = 10))
    val recall = partial.count(exact.contains).toDouble / exact.size
    spark.range(1).select(lit("ann").as("example"), concat(
      lit("recall@10[nprobe=4/16]="), lit(recall),
      lit(" probe_all_exact="), lit(full == exact)).as("detail"))
  }

  /** Example 4 — an always-on streaming curation sink: microbatches of
    * documents are admitted to a transactional corpus only if novel
    * (gram-bloom gate + exact similarity confirm), every admission is
    * a time-travelable version, and restarts never double-admit.
    */
  def streamingCuration(spark: SparkSession, workDir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.store.TxStore
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = s"$workDir/corpus"
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.Streaming.curationSink(
      in.toDF().toDF("doc_id", "text"), root, tau = 0.6,
      checkpoint = s"$workDir/checkpoint")
    try {
      in.addData(
        (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2L, "one two three four five six seven eight nine ten"))
      q.processAllAvailable()
      in.addData(
        (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa tail"),
        (4L, "north south east west up down left right forward backward"))
      q.processAllAvailable() // doc 3 is a near-dup of 1: rejected
    } finally q.stop()
    val admitted = TxStore.read(spark, root).select("doc_id")
      .as[Long].collect().sorted
    spark.range(1).select(lit("streaming").as("example"), concat(
      lit("admitted="), lit(admitted.mkString(",")),
      lit(" versions="), lit(TxStore.currentVersion(root).getOrElse(0L)))
      .as("detail"))
  }

  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("all")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = graft.SparkBoot.session("8")
    val work = java.nio.file.Files.createTempDirectory("graft_examples").toString
    val runs: Seq[(String, () => DataFrame)] = Seq(
      "quickstart" -> (() => quickstart(spark, sfDir, s"$work/q")),
      "dedup"      -> (() => dedupPipeline(spark, sfDir)),
      "ann"        -> (() => annIndex(spark, sfDir, s"$work/a")),
      "streaming"  -> (() => streamingCuration(spark, s"$work/s")))
    runs.filter { case (n, _) => which == "all" || which == n }
      .foreach { case (n, f) => println(s"== $n =="); f().show(truncate = false) }
    spark.stop()
  }
}
