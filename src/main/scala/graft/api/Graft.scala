package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.datasets.{DatasetDef, DatasetRegistry, MetaInfo}
import graft.validate.{Contract, ContractRegistry, Quality, SemanticRule, Semantic, Gaps}

/** User-facing facade — the discoverable surface a reference user
  * switches to. One object, five verbs:
  *
  * {{{
  * Graft.functions(spark)                  // register SQL functions
  * Graft.dataset("preco_diario").fetch()   // semantic-layer read
  * Graft.validate(df, "cepea.indicador")   // contract gate
  * Graft.certify(df, ...)                  // quality certificate
  * Graft.missingBusinessDays(df, $"data")  // gap probe
  * }}}
  */
object Graft {

  /** Register the custom function library on a session (SQL callers).
    * Sessions built with `GraftExtensions` get this automatically.
    */
  def functions(spark: SparkSession): Unit =
    graft.functions.GraftFunctions.register(spark)

  def dataset(name: String): DatasetDef =
    DatasetRegistry.get(name).getOrElse(
      throw new NoSuchElementException(
        s"dataset '$name' not registered; known: ${DatasetRegistry.list().mkString(", ")}"))

  def registerDataset(d: DatasetDef): Unit = DatasetRegistry.register(d)

  def contract(name: String): Contract =
    ContractRegistry.get(name).getOrElse(
      throw new NoSuchElementException(s"contract '$name' not registered"))

  /** One-pass contract violation report (empty = valid). */
  def validate(df: DataFrame, contractName: String): DataFrame =
    contract(contractName).violationReport(df)
      .filter(org.apache.spark.sql.functions.col("violations") > 0)

  def certify(df: DataFrame, expectedColumns: Seq[String], dateCol: String,
      valueCol: String, asOf: String, maxAgeDays: Int,
      minValue: Double, maxValue: Double): DataFrame =
    Quality.certify(df, expectedColumns, dateCol, valueCol, asOf,
      maxAgeDays, minValue, maxValue)

  def semantic(df: DataFrame, rules: Seq[SemanticRule]): DataFrame =
    Semantic.validate(df, rules)

  def missingBusinessDays(df: DataFrame, dateCol: Column,
      keys: Seq[String] = Seq.empty): DataFrame =
    Gaps.missingBusinessDays(df, dateCol, keys)

  // ── training-data curation verbs ────────────────────────────────────
  // Thin names over graft.ops — the surface a pipeline author calls.

  /** Exact-duplicate clusters (normalized 64-bit fingerprint groupBy). */
  def dedupExact(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    graft.ops.Dedup.exactDupClusters(df, idCol, textCol)

  /** EXACT near-dup pairs with shingle-Jaccard >= tau (prefix-filtered
    * similarity join — provably equal to brute force, never all-pairs).
    */
  def nearDupPairs(df: DataFrame, idCol: Column, textCol: Column,
      tau: Double = 0.6): DataFrame =
    graft.ops.Dedup.ngramJaccardPairs(df, idCol, textCol, k = 3, tau = tau)

  /** Sketch-based near-dup pairs for the very largest corpora (MinHash
    * LSH banding; estimated similarity, tunable band/row trade-off).
    */
  def nearDupPairsApprox(df: DataFrame, idCol: Column, textCol: Column,
      minSim: Double = 0.5): DataFrame =
    graft.ops.Dedup.minhashLshPairs(df, idCol, textCol, minSim = minSim)

  /** Exact cosine top-k of `query` rows against `vectors`. */
  def annTopK(vectors: DataFrame, query: DataFrame, vecCol: String,
      k: Int): DataFrame =
    graft.ops.VectorSearch.bruteForceTopK(vectors, query, vecCol, k)

  /** Near-dup CLUSTERS: pair list closed under transitivity
    * (distributed connected components), rolled up per cluster.
    */
  def nearDupClusters(pairs: DataFrame): DataFrame =
    graft.ops.Graph.nearDupClusters(pairs)

  /** EXACT embedding near-dup pairs (cosine >= minCos) via the
    * unit-sphere grid join — brute-force answer, never all-pairs.
    */
  def embeddingDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      minCos: Double = 0.99): DataFrame =
    graft.ops.VectorSearch.cosinePairsExact(vectors, idCol, vecCol, minCos)

  /** Deterministic stratified downsampling: per-stratum keep rates in
    * percent, applied through a multiplicative id hash — reproducible,
    * RNG-free.
    */
  def stratifiedSample(df: DataFrame, idCol: Column, stratumCol: Column,
      ratesPct: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.functions._
    df.filter(pmod(idCol * lit(2654435761L), lit(100L)) <
      coalesce(element_at(typedlit(ratesPct), stratumCol), lit(0L)))
  }

  /** SCD Type-2 dimension merge (history-keeping upsert). */
  def scd2Merge(dim: DataFrame, changes: DataFrame, pk: Seq[String],
      tracked: Seq[String]): DataFrame =
    graft.store.Store.scd2Merge(dim, changes, pk, tracked)

  /** Incremental aggregate-table refresh from a delta's partials. */
  def mergeAggregates(aggTable: DataFrame, deltaAgg: DataFrame,
      keys: Seq[String], measures: Seq[String]): DataFrame =
    graft.store.Store.mergeAggregates(aggTable, deltaAgg, keys, measures)

  /** Latest build value at-or-before each probe row's timestamp
    * (per key) — [[graft.ops.Temporal.asofJoin]].
    */
  def asofJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
      ts: String, payload: String): DataFrame =
    graft.ops.Temporal.asofJoin(probe, build, keys, ts, payload)

  /** Interval×point pairs under a key, bucket-binned —
    * [[graft.ops.Temporal.rangeJoinBinned]].
    */
  def rangeJoin(intervals: DataFrame, points: DataFrame, keys: Seq[String],
      pt: String, lo: String, hi: String, binWidth: Long): DataFrame =
    graft.ops.Temporal.rangeJoinBinned(intervals, points, keys, pt, lo, hi, binWidth)

  /** Exact counts of every value above total/(k+1) frequency —
    * [[graft.ops.Frequency.heavyHitters]].
    */
  def heavyHitters(items: DataFrame, c: String, k: Int): DataFrame =
    graft.ops.Frequency.heavyHitters(items, c, k)

  /** Per-query top-k over a scored (queryId, id, sim) set —
    * [[graft.ops.VectorSearch.batchTopK]].
    */
  def annTopKBatch(scored: DataFrame, queryIdCol: String, idCol: String,
      simCol: String, k: Int): DataFrame =
    graft.ops.VectorSearch.batchTopK(scored, queryIdCol, idCol, simCol, k)

  /** Exact similarity join of a new batch against an existing corpus —
    * [[graft.ops.Dedup.ngramJaccardJoin]].
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
      idCol: org.apache.spark.sql.Column, textCol: org.apache.spark.sql.Column,
      k: Int = 3, tau: Double = 0.6): DataFrame =
    graft.ops.Dedup.ngramJaccardJoin(corpus, batch, idCol, textCol, k, tau)

  /** Script-aware near-dup pairs: word shingles for spaced scripts,
    * character shingles for the unspaced ones (named in `charLangs`),
    * one exact PPJoin per route, results unioned. Cross-script pairs
    * are not compared — different scripts cannot be near-duplicates of
    * each other at the shingle level.
    */
  def nearDupPairsByScript(df: DataFrame, idCol: org.apache.spark.sql.Column,
      textCol: org.apache.spark.sql.Column, langCol: org.apache.spark.sql.Column,
      charLangs: Set[String] = Set("zh", "ja", "th"),
      wordK: Int = 3, charK: Int = 5, tau: Double = 0.6): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val isChar = langCol.isInCollection(charLangs)
    val word = graft.ops.Dedup.ngramJaccardPairs(
      df.filter(!isChar), idCol, textCol, wordK, tau)
    val char = graft.ops.Dedup.charNgramJaccardPairs(
      df.filter(isChar), idCol, textCol, charK, tau)
    word.withColumn("route", lit("word"))
      .unionByName(char.withColumn("route", lit("char")))
  }

  /** Per-document repetition quality stats —
    * [[graft.ops.Curation.repetitionStats]].
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.ops.Curation.repetitionStats(docs, idCol, textCol)

  /** Benchmark decontamination by verbatim n-gram overlap —
    * [[graft.ops.Curation.decontaminate]].
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame =
    graft.ops.Curation.decontaminate(corpus, bench, idCol, textCol, n)

  /** Duplicated-span detection over corpus-wide k-gram repeats —
    * [[graft.ops.Curation.duplicateSpans]].
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame =
    graft.ops.Curation.duplicateSpans(docs, idCol, textCol, k)

  /** CDC between two committed TxStore versions —
    * [[graft.store.TxStore.changesBetween]].
    */
  def changesBetween(spark: SparkSession, root: String,
      fromV: Long, toV: Long, pk: Seq[String]): DataFrame =
    graft.store.TxStore.changesBetween(spark, root, fromV, toV, pk)

  /** Endpoint diff of two arbitrary snapshots —
    * [[graft.store.Store.snapshotDiff]].
    */
  def snapshotDiff(before: DataFrame, after: DataFrame, pk: Seq[String]): DataFrame =
    graft.store.Store.snapshotDiff(before, after, pk)

  /** Always-on corpus curation: each microbatch deduped against the
    * persisted corpus before being MERGE-committed —
    * [[graft.streaming.Streaming.curationSink]].
    */
  def curationSink(docs: DataFrame, root: String, tau: Double,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.Streaming.curationSink(docs, root, tau, checkpoint)

  /** Asymmetric containment join (excerpt/quote detection) —
    * [[graft.ops.Dedup.containmentJoin]].
    */
  def containmentJoin(corpus: DataFrame, probes: DataFrame,
      idCol: org.apache.spark.sql.Column, textCol: org.apache.spark.sql.Column,
      k: Int = 3, tau: Double = 0.8): DataFrame =
    graft.ops.Dedup.containmentJoin(corpus, probes, idCol, textCol, k, tau)

  /** Shard a media table's binary payloads into fixed-size chunks for
    * parallel decode — [[graft.ops.Multimodal.chunkPayload]]; exactly
    * inverted by [[reassemblePayloads]].
    */
  def chunkPayloads(media: DataFrame, chunkBytes: Int): DataFrame =
    graft.ops.Multimodal.chunkPayload(media, chunkBytes)

  /** Rebuild payloads from their chunks, byte-identically —
    * [[graft.ops.Multimodal.reassemble]].
    */
  def reassemblePayloads(chunks: DataFrame): DataFrame =
    graft.ops.Multimodal.reassemble(chunks)

  /** VERSIONED ANN index lifecycle — the IVF index as a transactional
    * table ([[graft.ops.VectorSearch.initVersionedIvf]]): init with a
    * trained quantizer, retrain-and-swap atomically, probe the current
    * or any retained version with the geometry that built it.
    */
  def initVersionedIvf(vectors: DataFrame, idCol: String, vecCol: String,
      cents: Array[Seq[Float]], root: String): Long =
    graft.ops.VectorSearch.initVersionedIvf(vectors, idCol, vecCol, cents, root)

  def retrainVersionedIvf(spark: SparkSession, root: String, idCol: String,
      vecCol: String, newCents: Array[Seq[Float]]): Long =
    graft.ops.VectorSearch.retrainVersionedIvf(spark, root, idCol, vecCol, newCents)

  def probeVersionedIvf(spark: SparkSession, root: String, query: DataFrame,
      vecCol: String, nprobe: Int, version: Option[Long] = None): DataFrame =
    graft.ops.VectorSearch.probeVersionedIvf(spark, root, query, vecCol, nprobe, version)

  /** Live ANN index maintenance: streamed batches land in the persisted
    * index's cell partitions — [[graft.streaming.Streaming.ivfIndexSink]].
    */
  def ivfIndexSink(vectors: DataFrame, idCol: String, vecCol: String,
      cents: Array[Seq[Float]], path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.Streaming.ivfIndexSink(vectors, idCol, vecCol, cents, path, checkpoint)

  /** D8 health sweep + alert dispatch — [[graft.health.Checker]] /
    * [[graft.health.AlertService]]; probes and channels are injected
    * (fixtures here, HTTP/webhooks in deployments).
    */
  def healthSweep(checks: Seq[graft.health.SourceCheck]): Seq[graft.health.CheckResult] =
    graft.health.Checker.runAll(checks)

  def dispatchAlerts(results: Seq[graft.health.CheckResult],
      channels: Seq[graft.health.Notifier]): Seq[(graft.health.Alert, Int, Seq[(String, String)])] =
    new graft.health.AlertService(channels).dispatch(results)

  /** Streaming-ingest decontamination —
    * [[graft.streaming.Streaming.decontaminationSink]]: a doc sharing
    * any verbatim n-gram with the static benchmark never enters the
    * corpus (bloom-gated, exact-verified, ACID admissions).
    */
  def decontaminationSink(docs: DataFrame, bench: DataFrame, root: String,
      n: Int, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.Streaming.decontaminationSink(docs, bench, root, n, checkpoint)

  /** SemDeDup — [[graft.ops.VectorSearch.semDedup]] (d15): survivors
    * after dropping every vector with a smaller-id cluster-mate at
    * cosine ≥ tau. Train `cents` with [[graft.ops.VectorSearch.trainCentroids]].
    */
  def semDedup(vectors: DataFrame, idCol: String, vecCol: String,
      cents: Array[Seq[Float]], tau: Double): DataFrame =
    graft.ops.VectorSearch.semDedup(vectors, idCol, vecCol, cents, tau)

  /** Bloom-pruned inner join — [[graft.ops.Bloom.prunedJoin]] (q58),
    * its filter sized for `nBuildRows` build keys.
    */
  def bloomPrunedJoin(probe: DataFrame, build: DataFrame, probeKey: String,
      buildKey: String, nBuildRows: Long): DataFrame =
    graft.ops.Bloom.prunedJoin(probe, build, probeKey, buildKey, Some(nBuildRows))

  /** Bloom-gated decontamination — [[graft.ops.Curation.decontaminateBloom]]
    * (d16): [[decontaminate]]'s result when the benchmark gram set is
    * too large to broadcast as strings.
    */
  def decontaminateBloom(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame =
    graft.ops.Curation.decontaminateBloom(corpus, bench, idCol, textCol, n)

  /** Matryoshka two-stage ANN — [[graft.ops.VectorSearch.truncatedRerank]]
    * (a23): truncated-dim coarse scan, full-dim exact re-rank.
    */
  def annTopKTruncated(base: DataFrame, query: DataFrame, vecCol: String,
      idCols: Seq[String], coarseDims: Int, shortlist: Int, k: Int): DataFrame =
    graft.ops.VectorSearch.truncatedRerank(base, query, vecCol, idCols,
      coarseDims, shortlist, k)

  /** Fixed-point integer PageRank — [[graft.ops.Graph.pageRank]] (q61):
    * bit-identical ranks on any engine, edge-partitioned iterations.
    */
  def pageRank(edges: DataFrame, iterations: Int = 3): DataFrame =
    graft.ops.Graph.pageRank(edges, iterations)

  /** Exact triangle count — [[graft.ops.Graph.triangleCount]] (q62). */
  def triangleCount(edges: DataFrame): DataFrame =
    graft.ops.Graph.triangleCount(edges)

  /** Hierarchy flattening by pointer doubling —
    * [[graft.ops.Graph.flattenHierarchy]] (q65): (node, parent|null) →
    * (node, root, depth) in ⌈log₂ depth⌉ rounds.
    */
  def flattenHierarchy(nodes: DataFrame): DataFrame =
    graft.ops.Graph.flattenHierarchy(nodes)

  /** Merge-on-read DELETE — [[graft.store.TxStore.commitDeleteVectors]]
    * (s15): positions-only sidecar over hard-linked files.
    */
  def deleteWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column): Long =
    graft.store.TxStore.commitDeleteVectors(spark, root, predicate)

  /** Zero-copy table branch — [[graft.store.TxStore.cloneTable]] (s17). */
  def cloneTable(spark: SparkSession, srcRoot: String, dstRoot: String): Long =
    graft.store.TxStore.cloneTable(spark, srcRoot, dstRoot)

  /** Hidden-partitioned init + source-column point read —
    * [[graft.store.TxStore.initHidden]]/[[graft.store.TxStore.readHiddenEq]]
    * (s16): the caller predicates the data column; the store derives
    * the pruning partition value.
    */
  def initHidden(df: DataFrame, root: String,
      t: graft.store.Layout.Transform): Long =
    graft.store.TxStore.initHidden(df, root, t)
  def readHiddenEq(spark: SparkSession, root: String,
      key: org.apache.spark.sql.Column): DataFrame =
    graft.store.TxStore.readHiddenEq(spark, root, key)
}
