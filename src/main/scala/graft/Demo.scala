package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Executable tour of the driver-side surface that the oracle queries
  * can't reach: ingestion scans, the semantic-layer fallback chain and
  * structural drift. `sbt "runMain graft.Demo"` prints each stage.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = SparkBoot.session("2")
    import spark.implicits._

    // S3 — latin-1 ; CSV with BR decimals
    val dir = java.nio.file.Files.createTempDirectory("graft_demo").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/precos.csv"),
      "produto;valor\ncafé;2.500,75\nsoja;130,55\n"
        .getBytes(java.nio.charset.Charset.forName("ISO-8859-1")))
    val csv = ingest.Ingest.csvScanBr(spark, s"$dir/precos.csv",
      brDecimalCols = Seq("valor"))
    println("[demo] S3 csv scan:")
    csv.show(false)

    // S1 — HTML table scan → BR parse
    val html = """<table id="indicador"><tr><th>Data</th><th>Valor</th></tr>
                 |<tr><td>10/01/2024</td><td>R$ 130,55</td></tr></table>""".stripMargin
    val best = ingest.Ingest.bestTable(ingest.Ingest.htmlTables(html),
      "indicador", Seq("data", "valor")).get
    println(s"[demo] S1 html table rows: ${best.rows}")

    // S4 — dependency-free XLSX read (ZIP+XML), when the corpus is present
    val conabXlsx = "/root/reference/tests/golden_data/conab/safra_sample/response.xlsx"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(conabXlsx))) {
      val sheets = ingest.Xlsx.sheetNames(conabXlsx)
      val grid = ingest.Xlsx.readSheet(conabXlsx, "Soja")
      println(s"[demo] S4 xlsx: ${sheets.size} sheets; Soja grid ${grid.size} rows x ${grid.headOption.map(_.size).getOrElse(0)} cols")
    }

    // D1-D3 — fallback chain + contract + snapshot + MetaInfo
    import graft.datasets._
    import graft.validate._
    val ds = DatasetDef("preco_diario_demo",
      Contract("preco_diario", "1.0", Seq(
        ColumnSpec("produto", StringType, nullable = false),
        ColumnSpec("valor", DoubleType, nullable = false, minValue = Some(0.0)))),
      Seq(
        DatasetSource(1, "primary_down", () => throw new RuntimeException("http 503")),
        DatasetSource(99, "cache", () =>
          Seq(("soja", "2024-01-05", 130.55), ("soja", "2024-01-12", 131.20))
            .toDF("produto", "data", "valor")
            .withColumn("data", col("data").cast("date")))))
    val (df, meta) = ds.fetch(snapshot = Some("2024-01-10"))
    println(s"[demo] D1-D3 fetch: rows=${df.count()} meta=$meta")

    // S10/scale — partitioned fact layout: filter prunes directories
    val factDir = s"$dir/fact"
    store.Store.writePartitioned(
      Seq(("soja", 130.5), ("milho", 62.0)).toDF("produto", "valor"),
      factDir, Seq("produto"))
    val pruned = spark.read.parquet(factDir).filter(col("produto") === "soja")
    println(s"[demo] partition pruning: rows=${pruned.count()} " +
      s"pruned=${pruned.queryExecution.executedPlan.toString.contains("PartitionFilters")}")

    // skew — salted two-phase sum equals direct sum
    val skewed = ((1 to 1000).map(_ => ("hot", 1.0)) :+ ("cold", 5.0)).toDF("k", "v")
    println("[demo] salted sum: " + ops.Skew.saltedSum(skewed, Seq("k"), "v", 8)
      .orderBy("k").collect().mkString(", "))

    // D3 — cache-first read-through: gap probe -> bounded fetch -> merge
    val cached = Seq(("soja", "2024-01-08", 130.0), ("soja", "2024-01-09", 130.2),
      ("soja", "2024-01-10", 130.4)).toDF("produto", "data", "valor")
      .withColumn("data", col("data").cast("date"))
    val (served, fetchedDays) = store.CacheFirst.readThrough(
      cached, Seq("produto", "data"), "data",
      java.time.LocalDate.parse("2024-01-12"), windowDays = 5,
      fetch = m => Some(m.map(d => ("soja", d.toString, 131.0))
        .toDF("produto", "data", "valor")
        .withColumn("data", col("data").cast("date"))))
    println(s"[demo] D3 read-through: fetched=$fetchedDays rows=${served.count()}")

    // facade — contract gate + certificate through graft.api.Graft
    val fact = Seq(("2024-01-10", "soja", 130.5)).toDF("data", "produto", "valor")
      .withColumn("data", col("data").cast("date"))
    println("[demo] facade certify level: " +
      api.Graft.certify(fact, Seq("data", "produto", "valor"), "data", "valor",
        "2024-01-12", 7, 0, 1000).collect()(0).getAs[String]("level"))

    // V6 — structural drift
    val fp = Fingerprint("h1", Seq("grid"), Seq("tbl"), Seq(Seq("Data", "Valor")),
      Map("table" -> 1))
    println("[demo] V6 drift on layout change: " +
      Structural.validate(fp.copy(structureHash = "h2",
        tableHeaders = Seq(Seq("X"))), fp))

    // plugin registry — a validator plugin joins the fused validation scan
    import graft.plugins._
    Plugins.register(new ValidatorPlugin {
      val meta = PluginMeta("demo-nonneg", "1.0", "values must be non-negative")
      def rules(df: org.apache.spark.sql.DataFrame) = Seq(
        AggRule("demo_nonneg", "error",
          sum(when(col("valor") < 0, 1L).otherwise(0L))))
    })
    println("[demo] plugin validator in fused pass: " +
      Plugins.validate(fact).collect().map(r =>
        s"${r.getString(0)}=${if (r.getBoolean(3)) "pass" else "FAIL"}").mkString(", "))

    // SLA — observed latencies scored against the catalogue targets
    println("[demo] SLA latency findings (cepea, 20 obs): " +
      health.Sla.evaluateLatency(health.Sla.get("cepea").get,
        Seq.fill(19)(120L) :+ 900L)
        .map(f => s"${f.objective}:${if (f.met) "met" else "MISS"}").mkString(", "))

    // training-data pipeline in four lines: train a quality classifier
    // (distributed full-batch GD), score+gate the corpus, and keep one
    // canonical survivor per near-dup cluster
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = ops.Model.trainLogReg(emb, "embedding",
      (col("label") % 2 === 1).cast("double"), dims = 64, epochs = 3).last
    val kept = emb.filter(ops.Model.predict(col("embedding"), model) >= 0.5)
    println(s"[demo] trained gate keeps ${kept.count()}/${emb.count()} vectors")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val clusters = ops.Graph.nearDupClusters(ops.Dedup.minhashLshPairs(
      docs, col("doc_id"), col("text")))
    println(s"[demo] near-dup clusters found: ${clusters.count()}")
    println("[demo] per-source distinct tokens (mergeable HLL): " +
      docs.select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .groupBy(col("source"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("tok"), lit(12))).as("est"))
        .orderBy(col("source"))
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))
    println("[demo] corpus length quantiles (mergeable KLL, p25/p50/p75): " +
      docs.agg(functions.GraftFunctions.kllQuantiles(
          col("n_chars").cast("double"), 1024, Seq(0.25, 0.5, 0.75)).as("q"))
        .head().getSeq[Double](0).mkString(", "))
    println("[demo] longest doc per source (bounded-heap top-k, no window): " +
      docs.groupBy(col("source"))
        .agg(functions.GraftFunctions.topKBy(
          col("n_chars").cast("double"), col("doc_id"), col("doc_id"), 1).as("t"))
        .select(col("source"), element_at(col("t"), 1).getField("tie").as("doc"))
        .orderBy(col("source")).limit(3)
        .collect().map(r => s"${r.getString(0)}→doc${r.getLong(1)}").mkString(", "))

    // lakehouse maintenance in four commits: DV delete (zero rewrite),
    // shallow clone (zero copy), hidden-partitioned point read (prunes
    // on the SOURCE column), purge (materialize)
    val lakeTmp = java.nio.file.Files.createTempDirectory("graft_demo_lake")
    val lakeSrc = lakeTmp.resolve("src").toString
    store.TxStore.init(
      spark.range(100).select(col("id"), (col("id") % 10).as("cust"),
        (col("id") * 1.5).as("v")), lakeSrc)
    store.TxStore.commitDeleteVectors(spark, lakeSrc, col("cust") === 3L)
    val lakeDst = lakeTmp.resolve("branch").toString
    store.TxStore.cloneTable(spark, lakeSrc, lakeDst)
    store.TxStore.commitPurgeDeletes(spark, lakeDst)
    println(s"[demo] DV delete masks ${100 - store.TxStore.read(spark, lakeSrc).count()} rows; " +
      s"clone+purge reads ${store.TxStore.read(spark, lakeDst).count()} (zero-copy branch)")
    val hidRoot = lakeTmp.resolve("hidden").toString
    store.TxStore.initHidden(
      spark.range(100).select(col("id"), (col("id") % 10).as("cust"),
        (col("id") * 1.5).as("v")), hidRoot, store.Layout.Bucket("cust", 4))
    println(s"[demo] hidden-partition point read (cust=7, bucket derived by the store): " +
      s"${store.TxStore.readHiddenEq(spark, hidRoot, lit(7L)).count()} rows")

    // graph analytics — engine-exact fixed-point PageRank on a tiny star
    val star = (1L to 5L).flatMap(i => Seq((0L, i), (i, 0L)))
    println("[demo] fixed-point pagerank (star, hub first): " +
      ops.Graph.pageRank(star.toDF("src", "dst"), iterations = 3)
        .orderBy(col("rank").desc).limit(3)
        .collect().map(r => s"n${r.getLong(0)}=${r.getLong(1)}").mkString(", "))

    // MV rewrite — the same aggregate, answered from the maintained
    // summary: the optimizer swaps the fact scan for the |months|-row MV
    val mvBase = queries.StoreOps.s14Setup(spark, "/root/testdata/sf0.001")
    val mvQ = mvBase
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("mes"))
      .agg(count(lit(1)).as("n"))
    val usedMv = mvQ.queryExecution.executedPlan.toString.contains("orders_monthly")
    println(s"[demo] MV rewrite: ${mvQ.count()} month rows, plan reads summary=$usedMv")

    spark.stop()
  }
}
