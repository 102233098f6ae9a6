package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.T._
import graft.ops.{VectorSearch => V}
import graft.functions.{GraftFunctions => G}
import graft.store.Skipping

/** Similarity-search family over `embeddings.parquet` (500 × 64-dim
  * float at sf0.01). Brute-force cosine top-k is the oracle-checked
  * exactness baseline; the LSH-bucketed variants are the scale path
  * (rows-only checks here, planted-neighbor recovery in ScalaTest).
  */
object VectorSearch {

  /** Brute-force cosine top-20 around vec_id 0 — oracle-checked against
    * DuckDB's list_cosine_similarity over DOUBLE[] (same index-ordered
    * double accumulation; parity < 1e-12, rounded to 6 decimals).
    */
  val a01 = Q("a01_ann_bruteforce",
    (s, dir) => {
      val e = load(s, dir, "embeddings")
      V.bruteForceTopK(graft.ops.fanOut(e.filter(col("vec_id") =!= 0)),
          e.filter(col("vec_id") === 0), "embedding", 20)
        .select(col("vec_id"), col("label"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, label,
        ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qe AS DOUBLE[])), 6) AS sim
      FROM embeddings, q WHERE vec_id <> 0
      ORDER BY sim DESC, vec_id LIMIT 20"""))

  /** LSH-bucketed ANN around vec_id 0: 3 hash tables × 4 sign bits,
    * exact cosine re-rank of bucket candidates, top-10.
    */
  val a02 = Q("a02_ann_lsh",
    (s, dir) => {
      val e = load(s, dir, "embeddings")
      V.lshCandidates(e.filter(col("vec_id") =!= 0),
          e.filter(col("vec_id") === 0), "embedding",
          nbits = 4, tables = 3)
        .select(col("vec_id"), col("label"), col("sim"))
        .distinct()
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    },
    None)

  /** Embedding-cosine near-dup pairs: every 13th vector gets a slightly
    * perturbed planted copy (+0.01 on one coordinate); the LSH pair
    * pipeline must recover them with cosine ≥ 0.99.
    */
  val a03 = Q("a03_embedding_neardups",
    (s, dir) => {
      val e = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      // planted ids start at max+1 (a24/d15's stance): an in-plan 1-row
      // broadcast scalar, so a larger corpus can never collide real ids
      // into the planted range
      val off = broadcast(e.agg(
        (coalesce(max(col("vec_id")), lit(-1L)) + lit(1L)).as("_off")))
      val planted = e.filter(pmod(col("vec_id"), lit(13)) === 0)
        .crossJoin(off)
        .select((col("vec_id") + col("_off")).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
      V.nearDupPairs(e.unionByName(planted), "vec_id", "embedding",
          nbits = 12, tables = 2, minCos = 0.99)
        .orderBy(col("id1"), col("id2"))
    },
    None)

  /** IVF-bucketed ANN around vec_id 0: 16-cell k-means coarse
    * quantizer (trained in-query, deterministic seeds), probe the 4
    * cells nearest the query, exact cosine re-rank inside them.
    * Sketch-path rows-only check here; the exactness degeneracy
    * (nprobe == C ⇒ identical to brute force) and planted-neighbor
    * recovery are asserted in ScalaTest.
    */
  val a04 = Q("a04_ann_ivf",
    (s, dir) => {
      val e = load(s, dir, "embeddings")
      val base = e.filter(col("vec_id") =!= 0)
      val cents = V.trainCentroids(base, "vec_id", "embedding", c = 16, iters = 2)
      V.ivfCandidates(base, e.filter(col("vec_id") === 0), "embedding",
          cents, nprobe = 4, idCol = Some("vec_id"))
        .select(col("vec_id"), col("label"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    },
    None)

  /** EXACT embedding near-dup pairs (a03's planting, no sketch): the
    * unit-sphere grid join ([[graft.ops.VectorSearch.cosinePairsExact]])
    * must reproduce DuckDB's brute-force all-pairs answer exactly —
    * the oracle-hard twin that certifies the whole embedding-dedup
    * family, the same way q29 certifies q25 and d06 certifies d02.
    * Like those twins it is Θ(N²) BY NATURE, not by accident: exact
    * all-pairs at τ = 0.99 over an isotropic high-dim corpus admits no
    * asymptotic pruning (see the operator's scale notes — grid /
    * Voronoi / PCA blocking all measured), so SCALE.md carries this
    * row under the quadratic-by-design bound; the production near-dup
    * paths it certifies (a03's LSH banding, d15's SemDeDup cells) are
    * the rows measured against the linear bound.
    */
  val a05 = Q("a05_cosine_pairs_exact",
    (s, dir) => {
      val e = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      // planted ids start at max+1 — same collision-proof in-plan scalar
      // as a24/d15, mirrored in the oracle's scalar subquery
      val off = broadcast(e.agg(
        (coalesce(max(col("vec_id")), lit(-1L)) + lit(1L)).as("_off")))
      val planted = e.filter(pmod(col("vec_id"), lit(13)) === 0)
        .crossJoin(off)
        .select((col("vec_id") + col("_off")).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
      V.cosinePairsExact(e.unionByName(planted), "vec_id", "embedding",
          minCos = 0.99)
        .orderBy(col("id1"), col("id2"))
    },
    Some("""
      WITH off AS (
        SELECT coalesce(max(vec_id), -1) + 1 AS o FROM embeddings),
      all_vecs AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        UNION ALL
        SELECT vec_id + (SELECT o FROM off),
               CAST(list_transform(embedding,
                 (x, i) -> CASE WHEN i = 1 THEN CAST(x + CAST(0.01 AS FLOAT) AS FLOAT) ELSE x END)
                 AS DOUBLE[])
        FROM embeddings WHERE vec_id % 13 = 0)
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             ROUND(list_cosine_similarity(a.e, b.e), 6) AS cos
      FROM all_vecs a JOIN all_vecs b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.e, b.e) >= 0.99
      ORDER BY id1, id2"""))

  /** a06's one-time phase: train the coarse quantizer and materialize
    * the cell-partitioned index. Split out so the bench can time the
    * build separately from the steady-state probe (at scale the index
    * is built once and probed for months).
    */
  private[graft] def a06Build(s: SparkSession, dir: String): (String, Array[Seq[Float]]) = {
    val e = load(s, dir, "embeddings")
    val base = e.filter(col("vec_id") =!= 0)
    val cents = V.trainCentroids(base, "vec_id", "embedding", c = 16, iters = 2)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf")
      .resolve("index").toString
    V.buildIvfIndex(base, "vec_id", "embedding", cents, idx)
    (idx, cents)
  }

  /** a06's steady-state phase: the partition-pruned probe. */
  private[graft] def a06Probe(s: SparkSession, dir: String, idx: String,
      cents: Array[Seq[Float]]): DataFrame = {
    val e = load(s, dir, "embeddings")
    V.probeIvfIndex(s, idx, e.filter(col("vec_id") === 0), "embedding",
        cents, nprobe = 4)
      .select(col("vec_id"), col("label"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** a04's persisted form: the IVF index written PARTITIONED BY cell,
    * probes planned as partition filters — only nprobe of 16 cell
    * directories are read (plan asserted in IvfIndexSpec). Same
    * centroids/nprobe as a04, so the two candidate sets are identical;
    * rows-only here (sketch path), equality asserted in ScalaTest.
    */
  val a06 = Q("a06_ann_ivf_persisted",
    (s, dir) => {
      val (idx, cents) = a06Build(s, dir)
      a06Probe(s, dir, idx, cents)
    },
    None)

  /** Batch exact ANN: a query SET (every 100th vector) against the
    * corpus in one broadcast pass, per-query top-5 via
    * [[graft.ops.VectorSearch.batchTopK]] — partial top-k per input
    * partition, then a window over the ≤ Q·P·k survivors (never n·Q
    * rows on the shuffle). Oracle-exact: ranking runs on the already-
    * rounded sim with an id tie-break, so DuckDB's ROW_NUMBER agrees
    * bit-for-bit.
    */
  val a07 = Q("a07_ann_batch_exact",
    (s, dir) => {
      val e = load(s, dir, "embeddings")
      val queries = e.filter(pmod(col("vec_id"), lit(100)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      val scored = graft.ops.fanOut(e.filter(pmod(col("vec_id"), lit(100)) =!= 0))
        .crossJoin(broadcast(queries))
        .withColumn("sim", round(G.cosineSim(col("embedding"), col("q_vec")), 6))
        .select(col("query_id"), col("vec_id"), col("sim"))
      V.batchTopK(scored, "query_id", "vec_id", "sim", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""
      WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id % 100 = 0),
      scored AS (
        SELECT q.query_id, e.vec_id,
          ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS sim
        FROM embeddings e, q WHERE e.vec_id % 100 <> 0)
      SELECT query_id, vec_id, sim, rank FROM (
        SELECT query_id, vec_id, sim,
          CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
        FROM scored) t
      WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** a07's scale path: the same query set probed against the PERSISTED
    * IVF index in one partition-pruned scan
    * ([[graft.ops.VectorSearch.probeIvfIndexBatch]] — union of probed
    * cells read once, broadcast cell-join fan-out, batchTopK re-rank).
    * Rows-only (sketch path); per-query equality with the one-at-a-time
    * persisted probe is asserted in BatchAnnSpec.
    */
  private[graft] def a08Build(s: SparkSession, dir: String): (String, Array[Seq[Float]]) = {
    val e = load(s, dir, "embeddings")
    val base = e.filter(pmod(col("vec_id"), lit(100)) =!= 0)
    val cents = V.trainCentroids(base, "vec_id", "embedding", c = 16, iters = 2)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfb")
      .resolve("index").toString
    V.buildIvfIndex(base, "vec_id", "embedding", cents, idx)
    (idx, cents)
  }

  private[graft] def a08Probe(s: SparkSession, dir: String, idx: String,
      cents: Array[Seq[Float]]): DataFrame = {
    val e = load(s, dir, "embeddings")
    val queries = e.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val cand = V.probeIvfIndexBatch(s, idx, queries, "embedding", "query_id",
        cents, nprobe = 4)
      .select(col("query_id"), col("vec_id"), col("sim"))
    V.batchTopK(cand, "query_id", "vec_id", "sim", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  val a08 = Q("a08_ann_ivf_batch",
    (s, dir) => {
      val (idx, cents) = a08Build(s, dir)
      a08Probe(s, dir, idx, cents)
    },
    None)

  /** Per-DIMENSION corpus statistics over the embedding column (the
    * normalization/whitening inputs an embedding pipeline computes
    * before indexing): posexplode to (pos, value), one aggregation
    * keyed on the 64 positions. Values are rounded to 6 dp FIRST and
    * summed as exact DECIMAL — rounded doubles cast losslessly to
    * DECIMAL(18,6), so the cross-partition sum is associative and both
    * engines agree bit-for-bit (a raw double sum would depend on
    * partition order). The explode shuffles (pos, value) pairs only.
    */
  val a09 = Q("a09_embedding_dim_stats",
    (s, dir) => {
      load(s, dir, "embeddings")
        .select(posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
        .select(col("pos").cast("long").as("pos"), round(col("x"), 6).as("y"))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(col("y").cast(org.apache.spark.sql.types.DataTypes
            .createDecimalType(18, 6))).cast("double").as("total"),
          round(min(col("y")), 6).as("vmin"),
          round(max(col("y")), 6).as("vmax"))
        .withColumn("mean", round(col("total") / col("n"), 6))
        .orderBy(col("pos"))
    },
    Some("""
      WITH exploded AS (
        SELECT unnest(list_transform(CAST(embedding AS DOUBLE[]),
          (x, i) -> {'pos': i - 1, 'x': x})) AS s
        FROM embeddings),
      vals AS (
        SELECT CAST(s.pos AS BIGINT) AS pos, ROUND(s.x, 6) AS y FROM exploded)
      SELECT pos, COUNT(*) AS n,
        CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS total,
        ROUND(MIN(y), 6) AS vmin, ROUND(MAX(y), 6) AS vmax,
        ROUND(CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean
      FROM vals GROUP BY pos ORDER BY pos"""))

  /** Product-quantization ANN (Jégou et al. TPAMI'11 — the compression
    * half of IVF-PQ): vectors L2-normalized, 8 subspaces × 16-cell L2
    * codebooks trained in one pass (all subspaces together), corpus
    * encoded to 8 small ints (32× smaller than the raw floats), query
    * answered by ADC — a per-subspace lookup-table sum — then EXACT
    * cosine re-rank of the top-50 ADC candidates only. Rows-only
    * (sketch path); plumbing correctness, planted-duplicate recovery
    * and the candidates==all degeneracy are asserted in BatchAnnSpec.
    */
  private[graft] def a10Normalized(df: org.apache.spark.sql.DataFrame) = df
    // one codegen'd kernel call ([[graft.functions.L2Normalize]]) in
    // place of the fold + filter + transform chain — the higher-order
    // expressions evaluated their lambdas interpreted on every row of
    // every build pass (guide: eliminate non-codegen expressions on hot
    // paths). NULL marks exactly the rows the old `nrm > 0` filter
    // dropped; arithmetic is bit-identical (the oracle hash gates it).
    .withColumn("nv", G.l2Normalize(col("embedding").cast("array<double>")))
    .filter(col("nv").isNotNull)

  /** a10's one-time phase: train the codebooks and persist the encoded
    * corpus (codes + normalized vectors) — the PQ "index". Persisting
    * instead of caching means the two downstream reads (shortlist,
    * re-rank) share the parquet scan without leaking a storage-memory
    * entry into the shared session.
    */
  private[graft] def a10Build(s: SparkSession, dir: String): (String, Array[Array[Seq[Float]]]) = {
    val e = load(s, dir, "embeddings")
    val base = a10Normalized(graft.ops.fanOut(e.filter(col("vec_id") =!= 0)))
    // one Lloyd round: codebook QUALITY is irrelevant to the query's
    // semantics (ADC ordering is re-ranked exactly), and each extra
    // round is a fixed per-build cost
    val books = V.trainPqCodebooks(base, "vec_id", "nv", m = 8, c = 16, iters = 1)
    val out = java.nio.file.Files.createTempDirectory("graft_pq")
      .resolve("codes").toString
    V.withPqCodes(base.select(col("vec_id"), col("label"), col("nv")),
        "vec_id", "nv", books)
      // right-size the file count: 32 task files of a few KB each cost
      // more in commit/list overhead than the data
      .coalesce(4)
      .write.mode("overwrite").parquet(out)
    (out, books)
  }

  /** a10's steady-state phase: ADC shortlist over the persisted codes,
    * exact cosine re-rank of the shortlist only.
    */
  private[graft] def a10Probe(s: SparkSession, dir: String, path: String,
      books: Array[Array[Seq[Float]]]): DataFrame = {
    val e = load(s, dir, "embeddings")
    val qv = a10Normalized(e.filter(col("vec_id") === 0))
      .select(col("nv")).head().getSeq[Double](0)
    val subLen = qv.size / books.length
    val lut: Array[Array[Double]] = books.zipWithIndex.map { case (cb, i) =>
      cb.map(cent => cent.zipWithIndex.map { case (x, j) =>
        x * qv(i * subLen + j)
      }.sum.toDouble)
    }
    val scored = Skipping.readParquet(s, path)
      .withColumn("adc", round(V.pqScore(col("codes"), lut), 6))
    val cand = V.batchTopK(scored.select(lit(0L).as("qid"),
        col("vec_id"), col("adc")), "qid", "vec_id", "adc", k = 50)
      .select(col("vec_id"))
    scored.join(cand, Seq("vec_id"))
      // codegen'd seeded dot ([[graft.functions.DotProductLit]]) — same
      // IEEE sequence as the zip_with/aggregate pair it replaces
      .withColumn("sim", round(G.dotLit(col("nv"), qv), 6))
      .select(col("vec_id"), col("label"), col("adc"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  val a10 = Q("a10_ann_pq",
    (s, dir) => {
      val (path, books) = a10Build(s, dir)
      a10Probe(s, dir, path, books)
    },
    None)

  /** The complete persisted IVF-PQ probe (a06's pruning × a10's
    * compression): the probe reads nprobe/16 of the CODES partitions —
    * themselves ~32× smaller than the embeddings — and joins full
    * vectors back for the 50-row ADC shortlist only. Rows-only (sketch
    * path); partition pruning and shortlist equality asserted in
    * BatchAnnSpec.
    */
  private[graft] def a11Build(s: SparkSession, dir: String): (String, Array[Seq[Float]], Array[Array[Seq[Float]]]) = {
    val e = load(s, dir, "embeddings")
    val base = graft.ops.fanOut(e.filter(col("vec_id") =!= 0))
    val cents = V.trainCentroids(base, "vec_id", "embedding", c = 16, iters = 1)
    val normBase = a10Normalized(base)
    val books = V.trainPqCodebooks(normBase, "vec_id", "nv", m = 8, c = 16, iters = 1)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq")
      .resolve("index").toString
    V.buildIvfPqIndex(base, "vec_id", "embedding", cents, books, idx)
    (idx, cents, books)
  }

  private[graft] def a11Probe(s: SparkSession, dir: String, idx: String,
      cents: Array[Seq[Float]], books: Array[Array[Seq[Float]]]): DataFrame = {
    val e = load(s, dir, "embeddings")
    val qv = a10Normalized(e.filter(col("vec_id") === 0))
      .select(col("nv")).head().getSeq[Double](0)
    V.probeIvfPqIndex(s, idx, qv, cents, books,
        nprobe = 6, shortlist = 50, idCol = "vec_id")
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  val a11 = Q("a11_ann_ivfpq_persisted",
    (s, dir) => {
      val (idx, cents, books) = a11Build(s, dir)
      a11Probe(s, dir, idx, cents, books)
    },
    None)

  /** Recall@10 measurement harness: the LSH index (a02's config) scored
    * against the exact batch ground truth (a07's query set), per query —
    * the acceptance gate every ANN index deployment runs before
    * swapping in an approximate path. Ground truth and candidates share
    * one broadcast query set; the hit count is a semi-join of the two
    * top-10 lists, so nothing but (query_id, vec_id) pairs ever
    * shuffles. Rows-only (the LSH side is sketch-specific); the recall
    * floor is asserted in BatchAnnSpec.
    */
  val a12 = Q("a12_ann_recall",
    (s, dir) => {
      val e = load(s, dir, "embeddings")
      val queries = e.filter(pmod(col("vec_id"), lit(100)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val base = e.filter(pmod(col("vec_id"), lit(100)) =!= 0)
      val truth = V.batchTopK(
        graft.ops.fanOut(base).crossJoin(broadcast(queries.select(col("query_id"),
            col("embedding").as("q_vec"))))
          .withColumn("sim", round(G.cosineSim(col("embedding"), col("q_vec")), 6))
          .select(col("query_id"), col("vec_id"), col("sim")),
        "query_id", "vec_id", "sim", k = 10)
      val cand = V.lshCandidates(base, queries, "embedding",
          nbits = 4, tables = 3, queryIdCol = Some("query_id"))
        .select(col("query_id"), col("vec_id"), col("sim")).distinct()
      val approx = V.batchTopK(cand, "query_id", "vec_id", "sim", k = 10)
      val nCand = cand.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_candidates"))
      val hits = truth.select(col("query_id"), col("vec_id"))
        .join(approx.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      queries.select(col("query_id"))
        .join(nCand, Seq("query_id"), "left")
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)) / lit(10.0), 4).as("recall_at_10"))
        .orderBy(col("query_id"))
    },
    None)

  /** Per-dimension z-standardization of the embedding corpus (a09's
    * stats applied): each dimension centered on its corpus mean and
    * scaled by its corpus sd — the whitening-lite step run before
    * indexing so no dimension dominates distances. Stats flow through
    * the exact-decimal path and are 6-dp-rounded before the (x−μ)/σ
    * arithmetic, and each vector's z-values re-aggregate through
    * DECIMAL — so the per-vector checksum hash-matches the oracle
    * despite double division. Two passes (stats, standardize), stats
    * broadcast; per-vector output is a checksum + extrema, not the
    * full array (the array lands in the index, not in a result set).
    */
  val a13 = Q("a13_embedding_standardize",
    (s, dir) => {
      val e = load(s, dir, "embeddings")
      val vals = e.select(col("vec_id"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          round(col("x"), 6).as("y"))
      val dt = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 6)
      val dt2 = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)
      val stats = vals.groupBy(col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(col("y").cast(dt)).cast("double").as("s"),
          sum((col("y") * col("y")).cast(dt2)).cast("double").as("ssq"))
        .select(col("pos"),
          round(col("s") / col("n"), 6).as("mu"),
          round(sqrt(col("ssq") / col("n") -
            (col("s") / col("n")) * (col("s") / col("n"))), 6).as("sd"))
      vals.join(broadcast(stats), Seq("pos"))
        .withColumn("z", round((col("y") - col("mu")) / col("sd"), 6))
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("dims"),
          sum(col("z").cast(dt)).cast("double").as("z_sum"),
          round(min(col("z")), 6).as("z_min"),
          round(max(col("z")), 6).as("z_max"))
        .orderBy(col("vec_id"))
    },
    Some("""
      WITH vals AS (
        SELECT vec_id, CAST(s.i - 1 AS BIGINT) AS pos, ROUND(s.x, 6) AS y
        FROM (
          SELECT vec_id, unnest(list_transform(CAST(embedding AS DOUBLE[]),
            (x, i) -> {'i': i, 'x': x})) AS s
          FROM embeddings) t),
      stats AS (
        SELECT pos,
          ROUND(CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mu,
          ROUND(SQRT(CAST(SUM(CAST(y * y AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
            - (CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
              * (CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))), 6) AS sd
        FROM vals GROUP BY 1),
      z AS (
        SELECT v.vec_id, ROUND((v.y - st.mu) / st.sd, 6) AS z
        FROM vals v JOIN stats st USING (pos))
      SELECT vec_id, COUNT(*) AS dims,
        CAST(SUM(CAST(z AS DECIMAL(18,6))) AS DOUBLE) AS z_sum,
        ROUND(MIN(z), 6) AS z_min, ROUND(MAX(z), 6) AS z_max
      FROM z GROUP BY 1 ORDER BY vec_id"""))

  // ---- degenerate-config oracle twins --------------------------------
  // Each sketch/index family has a configuration that PROVABLY
  // degenerates to the exact answer (single LSH bucket, probe-all IVF,
  // shortlist-all PQ, exact candidate source). Running those configs
  // through the SAME code paths gives the no-oracle siblings
  // (a02/a04/a06/a08/a10/a11/a12) a DuckDB-checkable twin: the
  // approximate machinery — bucketing, partition-pruned probes, ADC
  // shortlists, the recall harness — must reproduce brute force
  // bit-for-bit when its pruning is turned off. Final similarities are
  // recomputed with the a01 expression at the edge so both engines
  // share one arithmetic path.

  private val a01Top10Oracle = Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, label,
        ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qe AS DOUBLE[])), 6) AS sim
      FROM embeddings, q WHERE vec_id <> 0
      ORDER BY sim DESC, vec_id LIMIT 10""")

  private def exactTop10From(e: DataFrame, candidateIds: DataFrame): DataFrame =
    // fanOut the SCAN side before the join (scan stats are stable; the
    // joined frame's size estimate is not) — the exact re-rank then
    // runs at full parallelism when the candidate set is corpus-sized
    // (the probe_all twins)
    V.bruteForceTopK(graft.ops.fanOut(e.filter(col("vec_id") =!= 0))
        .join(candidateIds, Seq("vec_id")),
        e.filter(col("vec_id") === 0), "embedding", 10)
      .select(col("vec_id"), col("label"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)

  /** a02's degenerate twin: 0 sign bits → one bucket → the LSH join
    * covers the whole corpus, so the re-rank must equal brute force.
    */
  val a14 = Q("a14_lsh_full_coverage",
    (s, dir) => {
      val e = load(s, dir, "embeddings")
      V.lshCandidates(e.filter(col("vec_id") =!= 0),
          e.filter(col("vec_id") === 0), "embedding", nbits = 0, tables = 1)
        .select(col("vec_id"), col("label"), col("sim"))
        .distinct()
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    },
    a01Top10Oracle)

  /** a04's degenerate twin: nprobe == C probes every Voronoi cell —
    * the candidate join covers the corpus for ANY trained quantizer.
    */
  val a15 = Q("a15_ivf_probe_all",
    (s, dir) => {
      val e = load(s, dir, "embeddings")
      val base = e.filter(col("vec_id") =!= 0)
      val cents = V.trainCentroids(base, "vec_id", "embedding", c = 8, iters = 1)
      V.ivfCandidates(base, e.filter(col("vec_id") === 0), "embedding",
          cents, nprobe = 8, idCol = Some("vec_id"))
        .select(col("vec_id"), col("label"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    },
    a01Top10Oracle)

  /** a06's degenerate twin: the PERSISTED index (a06's exact build)
    * probed at nprobe == C — every cell directory read, exact answer.
    */
  val a16 = Q("a16_ivf_persisted_probe_all",
    (s, dir) => {
      val (idx, cents) = a06Build(s, dir)
      V.probeIvfIndex(s, idx, load(s, dir, "embeddings")
          .filter(col("vec_id") === 0), "embedding", cents, nprobe = cents.length)
        .select(col("vec_id"), col("label"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    },
    a01Top10Oracle)

  /** a08's degenerate twin: the batched persisted probe at nprobe == C
    * must equal the exact batch top-k (a07's oracle verbatim).
    */
  val a17 = Q("a17_ivf_batch_probe_all",
    (s, dir) => {
      val (idx, cents) = a08Build(s, dir)
      val e = load(s, dir, "embeddings")
      val queries = e.filter(pmod(col("vec_id"), lit(100)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val cand = V.probeIvfIndexBatch(s, idx, queries, "embedding", "query_id",
          cents, nprobe = cents.length)
        .select(col("query_id"), col("vec_id"), col("sim"))
      V.batchTopK(cand, "query_id", "vec_id", "sim", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""
      WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id % 100 = 0),
      scored AS (
        SELECT q.query_id, e.vec_id,
          ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS sim
        FROM embeddings e, q WHERE e.vec_id % 100 <> 0)
      SELECT query_id, vec_id, sim, rank FROM (
        SELECT query_id, vec_id, sim,
          CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
        FROM scored) t
      WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** a10's degenerate twin: an ADC shortlist covering the whole corpus
    * feeds the exact re-rank — the PQ plumbing must surface every id
    * exactly once, and the re-rank must equal brute force.
    */
  private[graft] def a18Build(s: SparkSession, dir: String): (String, Array[Array[Seq[Float]]]) = {
    val e = load(s, dir, "embeddings")
    val base = a10Normalized(graft.ops.fanOut(e.filter(col("vec_id") =!= 0)))
    val books = V.trainPqCodebooks(base, "vec_id", "nv", m = 4, c = 8, iters = 1)
    val out = java.nio.file.Files.createTempDirectory("graft_pq_d")
      .resolve("codes").toString
    V.withPqCodes(base.select(col("vec_id"), col("nv")), "vec_id", "nv", books)
      .select(col("vec_id"), col("codes"))
      .coalesce(4)
      .write.mode("overwrite").parquet(out)
    (out, books)
  }

  private[graft] def a18Probe(s: SparkSession, dir: String, path: String,
      books: Array[Array[Seq[Float]]]): DataFrame = {
    val e = load(s, dir, "embeddings")
    val qv = a10Normalized(e.filter(col("vec_id") === 0))
      .select(col("nv")).head().getSeq[Double](0)
    val subLen = qv.size / books.length
    val lut: Array[Array[Double]] = books.zipWithIndex.map { case (cb, i) =>
      cb.map(cent => cent.zipWithIndex.map { case (x, j) =>
        x * qv(i * subLen + j)
      }.sum.toDouble)
    }
    val coded = Skipping.readParquet(s, path)
      .withColumn("adc", V.pqScore(col("codes"), lut))
    val cand = V.batchTopK(coded.select(lit(0L).as("qid"),
        col("vec_id"), col("adc")), "qid", "vec_id", "adc", k = 1000000)
      .select(col("vec_id"))
    exactTop10From(e, cand)
  }

  val a18 = Q("a18_pq_shortlist_all",
    (s, dir) => {
      val (path, books) = a18Build(s, dir)
      a18Probe(s, dir, path, books)
    },
    a01Top10Oracle)

  /** a11's degenerate twin: the persisted IVF-PQ probed with every
    * cell and an unbounded shortlist — partition pruning and ADC both
    * disabled by configuration, exact answer out.
    */
  private[graft] def a19Build(s: SparkSession, dir: String): (String, Array[Seq[Float]], Array[Array[Seq[Float]]]) = {
    val e = load(s, dir, "embeddings")
    val base = graft.ops.fanOut(e.filter(col("vec_id") =!= 0))
    val cents = V.trainCentroids(base, "vec_id", "embedding", c = 8, iters = 1)
    val books = V.trainPqCodebooks(a10Normalized(base), "vec_id", "nv",
      m = 4, c = 8, iters = 1)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_d")
      .resolve("index").toString
    V.buildIvfPqIndex(base, "vec_id", "embedding", cents, books, idx)
    (idx, cents, books)
  }

  private[graft] def a19Probe(s: SparkSession, dir: String, idx: String,
      cents: Array[Seq[Float]], books: Array[Array[Seq[Float]]]): DataFrame = {
    val e = load(s, dir, "embeddings")
    val qv = a10Normalized(e.filter(col("vec_id") === 0))
      .select(col("nv")).head().getSeq[Double](0)
    val cand = V.probeIvfPqIndex(s, idx, qv, cents, books,
        nprobe = 8, shortlist = 1000000, idCol = "vec_id")
      .select(col("vec_id"))
    exactTop10From(e, cand)
  }

  val a19 = Q("a19_ivfpq_probe_all",
    (s, dir) => {
      val (idx, cents, books) = a19Build(s, dir)
      a19Probe(s, dir, idx, cents, books)
    },
    a01Top10Oracle)

  /** a12's degenerate twin: the recall harness fed EXACT candidates
    * (the full scored set instead of LSH buckets) must measure
    * recall@10 = 1.0 for every query — and the whole measurement is
    * SQL-expressible, so the harness arithmetic itself is
    * oracle-checked.
    */
  val a20 = Q("a20_recall_exact",
    (s, dir) => {
      val e = load(s, dir, "embeddings")
      val queries = e.filter(pmod(col("vec_id"), lit(100)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val base = e.filter(pmod(col("vec_id"), lit(100)) =!= 0)
      val scored = graft.ops.fanOut(base).crossJoin(broadcast(queries.select(col("query_id"),
          col("embedding").as("q_vec"))))
        .withColumn("sim", round(G.cosineSim(col("embedding"), col("q_vec")), 6))
        .select(col("query_id"), col("vec_id"), col("sim"))
      val truth = V.batchTopK(scored, "query_id", "vec_id", "sim", k = 10)
      val approx = V.batchTopK(scored, "query_id", "vec_id", "sim", k = 10)
      val nCand = scored.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_candidates"))
      val hits = truth.select(col("query_id"), col("vec_id"))
        .join(approx.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      queries.select(col("query_id"))
        .join(nCand, Seq("query_id"), "left")
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)) / lit(10.0), 4).as("recall_at_10"))
        .orderBy(col("query_id"))
    },
    Some("""
      WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id % 100 = 0),
      scored AS (
        SELECT q.query_id, e.vec_id,
          ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS sim
        FROM embeddings e, q WHERE e.vec_id % 100 <> 0),
      truth AS (
        SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
          FROM scored) t
        WHERE rnk <= 10),
      cand AS (SELECT query_id, COUNT(*) AS n_candidates FROM scored GROUP BY 1),
      hits AS (
        SELECT a.query_id, COUNT(*) AS n_hits
        FROM truth a JOIN truth b USING (query_id, vec_id) GROUP BY 1)
      SELECT c.query_id, c.n_candidates, h.n_hits,
        ROUND(h.n_hits / 10.0, 4) AS recall_at_10
      FROM cand c JOIN hits h USING (query_id)
      ORDER BY query_id"""))

  /** The VERSIONED index ([[graft.ops.VectorSearch.initVersionedIvf]]:
    * the IVF index as a TxStore table, quantizer persisted beside each
    * version) probed at nprobe == C — the transactional index surface
    * under the same degeneracy oracle as a16. Retrain-swap atomicity
    * and time-travel probes are asserted in IvfIndexSpec.
    */
  val a21 = Q("a21_versioned_ivf_probe_all",
    (s, dir) => {
      val e = load(s, dir, "embeddings")
      val base = e.filter(col("vec_id") =!= 0)
      val cents = V.trainCentroids(base, "vec_id", "embedding", c = 8, iters = 1)
      val root = java.nio.file.Files.createTempDirectory("graft_vivf_q")
        .resolve("idx").toString
      V.initVersionedIvf(base, "vec_id", "embedding", cents, root)
      V.probeVersionedIvf(s, root, e.filter(col("vec_id") === 0),
          "embedding", nprobe = 8)
        .select(col("vec_id"), col("label"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    },
    a01Top10Oracle)

  /** Batch model inference as a pure projection: logistic scoring
    * sigmoid(w·x + b) of every embedding against a literal weight
    * vector — the shape of corpus-wide quality-classifier scoring
    * (fastText-style filters, reward-model gating) when the model is
    * linear-head-over-embedding. ZERO shuffle: the weights ride into
    * codegen as a constant, the dot product is an ordered fold (seed
    * b, then products left-to-right — mirrored exactly by the oracle's
    * list_reduce over a prepended seed, so the IEEE add sequence is
    * identical), and the plan is scan → project → sort. At 100 TB this
    * is the one operator family that is embarrassingly parallel — the
    * only thing to get wrong is a shuffle, and there isn't one.
    */
  val a22 = Q("a22_model_scoring",
    (s, dir) => {
      val w: Seq[Double] = (0 until 64).map(i => ((i * 37) % 19 - 9) / 10.0)
      val bias = 0.1
      load(s, dir, "embeddings")
        // codegen'd seeded dot (bias-seeded left fold, identical IEEE
        // order — the oracle's list_reduce mirror is unchanged)
        .withColumn("z", round(
          G.dotLit(col("embedding").cast("array<double>"), w, bias), 6))
        .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
        .select(col("vec_id"), col("z"), col("score"),
          when(col("score") >= 0.5, lit("keep")).otherwise(lit("drop"))
            .as("decision"))
        .orderBy(col("vec_id"))
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      z AS (
        SELECT vec_id,
          ROUND(list_reduce(list_prepend(0.1, list_transform(
            generate_series(1, 64),
            i -> v[i] * ([${(0 until 64).map(i => ((i * 37) % 19 - 9) / 10.0).mkString(", ")}])[i])),
            (a, x) -> a + x), 6) AS z
        FROM e)
      SELECT vec_id, z,
        ROUND(1.0 / (1.0 + EXP(-z)), 6) AS score,
        CASE WHEN ROUND(1.0 / (1.0 + EXP(-z)), 6) >= 0.5
             THEN 'keep' ELSE 'drop' END AS decision
      FROM z ORDER BY vec_id"""))

  /** Two-stage truncated-dimension search
    * ([[graft.ops.VectorSearch.truncatedRerank]], Matryoshka-style):
    * 16-of-64-dim coarse scan, full-dim exact re-rank. Run in the
    * degenerate shortlist ≥ corpus configuration, where the two-stage
    * result provably equals brute force — a01's oracle verbatim;
    * recall at real shortlist sizes (16 of 500) is asserted in
    * BloomSemDedupSpec against planted neighbors.
    */
  val a23 = Q("a23_matryoshka_rerank",
    (s, dir) => {
      val e = load(s, dir, "embeddings")
      V.truncatedRerank(
          e.filter(col("vec_id") =!= 0),
          e.filter(col("vec_id") === 0),
          "embedding", idCols = Seq("vec_id", "label"),
          coarseDims = 16, shortlist = Int.MaxValue, k = 10)
        .select(col("vec_id"), col("label"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
    },
    a01Top10Oracle)

  /** a03's full-coverage configuration (a14's stance applied to the
    * PAIR pipeline): 0 sign bits × 1 table puts the whole corpus in
    * one LSH bucket, so the candidate join covers every pair and the
    * exact-cosine verify must reproduce the brute-force all-pairs
    * answer — DuckDB-checkable, certifying a03's bucket/verify
    * machinery end-to-end. Runs on the `vec_id % 3` subset so the
    * deliberately-degenerate single bucket stays bounded at bench SF
    * (the production path is a03's bucketed LSH config — this is the
    * correctness certificate, not the scale path). The
    * rounded-cosine threshold matches [[graft.ops.VectorSearch
    * .nearDupPairs]]'s filter exactly.
    */
  val a24 = Q("a24_neardup_full_coverage",
    (s, dir) => {
      val e = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .filter(pmod(col("vec_id"), lit(3)) === 0)
      // planted ids start at max+1 (d15's stance, mirrored as a scalar
      // subquery in the oracle) — a larger corpus can never collide into
      // the planted range. The offset rides IN-PLAN as a 1-row broadcast
      // scalar (coalesced so an empty table yields 0, not an NPE)
      val off = broadcast(e.agg(
        (coalesce(max(col("vec_id")), lit(-1L)) + lit(1L)).as("_off")))
      val planted = e.filter(pmod(col("vec_id"), lit(13)) === 0)
        .crossJoin(off)
        .select((col("vec_id") + col("_off")).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
      V.nearDupPairs(e.unionByName(planted), "vec_id", "embedding",
          nbits = 0, tables = 1, minCos = 0.99)
        .orderBy(col("id1"), col("id2"))
    },
    Some("""
      WITH off AS (
        SELECT coalesce(max(vec_id), -1) + 1 AS o FROM embeddings
        WHERE vec_id % 3 = 0),
      all_vecs AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        WHERE vec_id % 3 = 0
        UNION ALL
        SELECT vec_id + (SELECT o FROM off),
               CAST(list_transform(embedding,
                 (x, i) -> CASE WHEN i = 1 THEN CAST(x + CAST(0.01 AS FLOAT) AS FLOAT) ELSE x END)
                 AS DOUBLE[])
        FROM embeddings WHERE vec_id % 3 = 0 AND vec_id % 13 = 0)
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             ROUND(list_cosine_similarity(a.e, b.e), 6) AS cos
      FROM all_vecs a JOIN all_vecs b ON a.vec_id < b.vec_id
      WHERE ROUND(list_cosine_similarity(a.e, b.e), 6) >= 0.99
      ORDER BY id1, id2"""))

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009,
    * k = 60): the lexical retriever (t17's BM25 over the fixed query
    * terms) and the dense retriever (a01's cosine against vec_id 0's
    * embedding) each return their top-50, ranks fuse as
    * Σ 1/(60+rank) over the lists a document appears in, top-10 out.
    * This is the DEPLOYED shape — each retriever limits BEFORE any
    * ranking window, so the row_number frames are structurally bounded
    * (50 rows) and the fusion join touches 50+50 rows no matter the
    * corpus size; the full scored frames never meet. Fully
    * DuckDB-oracle-checked by composing the two sides' oracles.
    */
  val a25 = Q("a25_hybrid_rrf",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val n = 50
      // lexical side: t17's BM25 pipeline verbatim (same constants)
      val terms = Seq("spark", "table", "hash")
      val docs = load(s, dir, "documents")
        .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
        .withColumn("dl", size(col("toks")).cast("long"))
      val scalars = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      val tf = docs
        .select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
        .filter(col("token").isInCollection(terms))
        .groupBy(col("doc_id"), col("dl"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val dfs = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val bm25 = tf.join(broadcast(dfs), Seq("token"))
        .crossJoin(broadcast(scalars))
        .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
        .withColumn("idf", log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
        .withColumn("sat", (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .withColumn("contrib", round(col("idf") * col("sat"), 6)
          .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(18, 6)))
        .groupBy(col("doc_id"))
        .agg(sum(col("contrib")).cast("double").as("bm25"))
      val bmTop = bm25.orderBy(col("bm25").desc, col("doc_id")).limit(n)
        .withColumn("_all", lit(0))
        .withColumn("bm25_rank", row_number().over(Window.partitionBy(col("_all"))
          .orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("bm25_rank"))
      // dense side: a01's brute-force cosine, top-50
      val e = load(s, dir, "embeddings")
      val cosTop = V.bruteForceTopK(graft.ops.fanOut(e.filter(col("vec_id") =!= 0)),
          e.filter(col("vec_id") === 0), "embedding", n)
        .select(col("vec_id"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(n)
        .withColumn("_all", lit(0))
        .withColumn("cos_rank", row_number().over(Window.partitionBy(col("_all"))
          .orderBy(col("sim").desc, col("vec_id"))).cast("long"))
        .select(col("vec_id"), col("cos_rank"))
      bmTop.join(cosTop, col("doc_id") === col("vec_id"), "full_outer")
        .select(coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
          round(coalesce(lit(1.0) / (lit(60) + col("bm25_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("cos_rank")), lit(0.0)), 6).as("rrf"),
          col("bm25_rank"), col("cos_rank"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    },
    Some("""
      WITH d AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents),
      dl AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d),
      sc AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
      tf AS (
        SELECT doc_id, dl, token, COUNT(*) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS token FROM dl) x
        WHERE token IN ('spark', 'table', 'hash')
        GROUP BY 1, 2, 3),
      dfs AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
      bm AS (
        SELECT doc_id,
          CAST(SUM(CAST(ROUND(
            LN(1.0 + (sc.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
            ((tf.tf * 2.2) /
             (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (CAST(sc.sum_dl AS DOUBLE) / sc.n_docs)))),
            6) AS DECIMAL(18,6))) AS DOUBLE) AS bm25
        FROM tf JOIN dfs USING (token), sc
        GROUP BY doc_id),
      bmtop AS (
        SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
        FROM bm ORDER BY bm25 DESC, doc_id LIMIT 50),
      q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      cos AS (
        SELECT vec_id,
          ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qe AS DOUBLE[])), 6) AS sim
        FROM embeddings, q WHERE vec_id <> 0),
      costop AS (
        SELECT vec_id,
          ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS cos_rank
        FROM cos ORDER BY sim DESC, vec_id LIMIT 50)
      SELECT COALESCE(b.doc_id, c.vec_id) AS doc_id,
        ROUND(COALESCE(1.0 / (60 + b.bm25_rank), 0) +
              COALESCE(1.0 / (60 + c.cos_rank), 0), 6) AS rrf,
        b.bm25_rank, c.cos_rank
      FROM bmtop b FULL OUTER JOIN costop c ON b.doc_id = c.vec_id
      ORDER BY rrf DESC, doc_id LIMIT 10"""))

  /** Corpus-scale model evaluation: tie-aware Mann-Whitney AUC of
    * a22's classifier scores against a binary label (label parity).
    * The rank computation is the SCALE-CORRECT form: scores are
    * 6-dp-rounded sigmoids, so grouping by score value yields at most
    * 1,000,001 buckets BY CONSTRUCTION — per-bucket (pos, total)
    * counts aggregate map-side, and average-rank tie handling falls
    * out exactly: items in a bucket share rank cum_before + (cnt+1)/2,
    * so AUC = (Σ_pos avg_rank − P(P+1)/2) / (P·N).
    *
    * The cumulative count over the bucket frame is a TWO-LEVEL prefix
    * sum (t23's shape): buckets fold into ≤1,001 `floor(score·1000)`
    * blocks, block totals take the one sequential window (≤1,001 rows,
    * explicit single-partition key), and broadcast block bases anchor
    * a per-block window that runs in parallel — so no task ever sorts
    * the full 1e6-bucket frame, and the per-row work is one groupBy at
    * any corpus size.
    */
  val a26 = Q("a26_model_auc",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w: Seq[Double] = (0 until 64).map(i => ((i * 37) % 19 - 9) / 10.0)
      val scored = load(s, dir, "embeddings")
        .withColumn("z", round(
          G.dotLit(col("embedding").cast("array<double>"), w, 0.1), 6))
        .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
        .withColumn("pos", (col("label") % 2 === 1).cast("long"))
      val buckets = scored.groupBy(col("score"))
        .agg(sum(col("pos")).as("p_b"), count(lit(1)).as("c_b"))
        .withColumn("blk", floor(col("score") * 1000).cast("long"))
      val wBlk = Window.partitionBy(col("_all")).orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val bases = buckets.groupBy(col("blk")).agg(sum(col("c_b")).as("c_blk"))
        .withColumn("_all", lit(0))
        .withColumn("base", coalesce(sum(col("c_blk")).over(wBlk), lit(0L)))
        .select(col("blk"), col("base"))
      val wInBlk = Window.partitionBy(col("blk")).orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
      buckets.join(broadcast(bases), Seq("blk"))
        .withColumn("cum_before",
          col("base") + coalesce(sum(col("c_b")).over(wInBlk), lit(0L)))
        .select((col("p_b") * (col("cum_before").cast("double") +
          (col("c_b") + lit(1)).cast("double") / 2.0)).as("rank_sum"),
          col("p_b"), col("c_b"))
        .agg(sum(col("p_b")).as("p"), sum(col("c_b") - col("p_b")).as("n"),
          sum(col("rank_sum")).as("rs"))
        .select(col("p"), col("n"),
          round((col("rs") - col("p").cast("double") * (col("p") + lit(1)) / 2.0) /
            (col("p").cast("double") * col("n")), 6).as("auc"))
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      z AS (
        SELECT vec_id, label,
          ROUND(list_reduce(list_prepend(0.1, list_transform(
            generate_series(1, 64),
            i -> v[i] * ([${(0 until 64).map(i => ((i * 37) % 19 - 9) / 10.0).mkString(", ")}])[i])),
            (a, x) -> a + x), 6) AS zv
        FROM e),
      scored AS (
        SELECT ROUND(1.0 / (1.0 + EXP(-zv)), 6) AS score,
          CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos
        FROM z),
      buckets AS (
        SELECT score, SUM(pos) AS p_b, COUNT(*) AS c_b
        FROM scored GROUP BY 1),
      ranked AS (
        SELECT p_b, c_b,
          COALESCE(SUM(c_b) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        FROM buckets)
      SELECT CAST(SUM(p_b) AS BIGINT) AS p,
        CAST(SUM(c_b - p_b) AS BIGINT) AS n,
        ROUND((SUM(p_b * (CAST(cum_before AS DOUBLE) + (c_b + 1) / 2.0))
          - CAST(SUM(p_b) AS DOUBLE) * (SUM(p_b) + 1) / 2.0)
          / (CAST(SUM(p_b) AS DOUBLE) * SUM(c_b - p_b)), 6) AS auc
      FROM ranked"""))

  /** Classifier calibration (reliability-diagram bins, AUC's standard
    * companion): scores bucketed to 10 fixed-width bins — a constant-
    * cardinality groupBy, map-side combinable, zero windows — each bin
    * reporting count, mean predicted probability (exact DECIMAL sum ÷
    * count, engine-order independent) and empirical positive rate. The
    * whole query is one aggregation pass at any corpus size.
    */
  val a27 = Q("a27_model_calibration",
    (s, dir) => {
      val w: Seq[Double] = (0 until 64).map(i => ((i * 37) % 19 - 9) / 10.0)
      load(s, dir, "embeddings")
        .withColumn("z", round(
          G.dotLit(col("embedding").cast("array<double>"), w, 0.1), 6))
        .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
        .withColumn("pos", (col("label") % 2 === 1).cast("long"))
        .groupBy(least(floor(col("score") * 10), lit(9L)).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          (sum(dec(col("score"))).cast("double") / count(lit(1)))
            .as("mean_pred"),
          round(sum(col("pos")).cast("double") / count(lit(1)), 6)
            .as("pos_rate"))
        .withColumn("mean_pred", round(col("mean_pred"), 6))
        .orderBy(col("bin"))
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      z AS (
        SELECT vec_id, label,
          ROUND(list_reduce(list_prepend(0.1, list_transform(
            generate_series(1, 64),
            i -> v[i] * ([${(0 until 64).map(i => ((i * 37) % 19 - 9) / 10.0).mkString(", ")}])[i])),
            (a, x) -> a + x), 6) AS zv
        FROM e),
      scored AS (
        SELECT ROUND(1.0 / (1.0 + EXP(-zv)), 6) AS score,
          CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos
        FROM z)
      SELECT CAST(LEAST(FLOOR(score * 10), 9) AS BIGINT) AS bin,
        COUNT(*) AS n,
        ROUND(CAST(SUM(CAST(score AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS mean_pred,
        ROUND(CAST(SUM(pos) AS DOUBLE) / COUNT(*), 6) AS pos_rate
      FROM scored GROUP BY 1 ORDER BY 1"""))

  /** Corpus-scale model TRAINING ([[graft.ops.Model.trainLogReg]]):
    * two full-batch gradient-descent epochs of logistic regression on
    * the embeddings against the parity label a26/a27 evaluate — the
    * rung of the classifier ladder where a22's weights come FROM.
    * Each epoch is ONE aggregation pass of dim+1 exact DECIMAL
    * gradient sums (map-side combinable, O(dim) state — the k-means
    * pattern); the driver's update arithmetic is 6-dp-mirrored, which
    * is what lets an ITERATIVE training trajectory be DuckDB-hash-
    * checked: the oracle re-derives epoch 1 in closed form (σ(0)=0.5
    * makes it linear) and epoch 2 through the learned-weight sigmoid,
    * certifying the non-linear update machinery, not just the first
    * step. Output: 65 rows (j=0 bias, j=1..64 features), both epochs'
    * weights. Multi-epoch convergence on separable data is spec-proven
    * (ModelSpec).
    */
  val a28 = Q("a28_logreg_train",
    (s, dir) => {
      import s.implicits._
      val models = graft.ops.Model.trainLogReg(
        load(s, dir, "embeddings"),
        "embedding", (col("label") % 2 === 1).cast("double"),
        dims = 64, epochs = 2, lr = 1.0)
      val Seq(m1, m2) = models
      ((0L, m1.bias, m2.bias) +: (1 to 64).map(j =>
        (j.toLong, m1.weights(j - 1), m2.weights(j - 1))))
        .toDF("j", "w1", "w2")
        .orderBy(col("j"))
    },
    Some("""
      WITH e AS (
        SELECT CAST(embedding AS DOUBLE[]) AS v,
               CASE WHEN label % 2 = 1 THEN 1.0 ELSE 0.0 END AS y
        FROM embeddings),
      n AS (SELECT COUNT(*) AS c FROM e),
      g1 AS (
        SELECT j,
          CAST(SUM(CAST(ROUND((0.5 - y) * v[j], 6) AS DECIMAL(28,6))) AS DOUBLE) AS s
        FROM e, generate_series(1, 64) t(j)
        GROUP BY j),
      b1v AS (
        SELECT ROUND(0.0 - CAST(SUM(CAST(ROUND(0.5 - y, 6) AS DECIMAL(28,6))) AS DOUBLE)
          / (SELECT c FROM n), 6) AS b1
        FROM e),
      wa AS (SELECT j, ROUND(0.0 - s / (SELECT c FROM n), 6) AS w FROM g1),
      wal AS (SELECT list(w ORDER BY j) AS wl FROM wa),
      err2 AS (
        SELECT v,
          ROUND(1.0 / (1.0 + EXP(-ROUND(list_reduce(
            list_prepend(b1v.b1,
              list_transform(generate_series(1, 64),
                i -> v[i] * wal.wl[i])),
            (a, x) -> a + x), 6))), 6) - y AS err
        FROM e, wal, b1v),
      g2 AS (
        SELECT j,
          CAST(SUM(CAST(ROUND(err * v[j], 6) AS DECIMAL(28,6))) AS DOUBLE) AS s
        FROM err2, generate_series(1, 64) t(j)
        GROUP BY j),
      b2v AS (
        SELECT ROUND((SELECT b1 FROM b1v)
          - CAST(SUM(CAST(ROUND(err, 6) AS DECIMAL(28,6))) AS DOUBLE)
          / (SELECT c FROM n), 6) AS b2
        FROM err2),
      wb AS (
        SELECT g2.j, ROUND(wa.w - g2.s / (SELECT c FROM n), 6) AS w
        FROM g2 JOIN wa ON g2.j = wa.j)
      SELECT CAST(0 AS BIGINT) AS j,
        (SELECT b1 FROM b1v) AS w1, (SELECT b2 FROM b2v) AS w2
      UNION ALL
      SELECT wa.j, wa.w AS w1, wb.w AS w2 FROM wa JOIN wb ON wa.j = wb.j
      ORDER BY j"""))

  /** Distributed PCA, the O(dim) way ([[graft.ops.Model
    * .powerIterationPc1]]): mean-center + two power-iteration rounds
    * for the top principal component — no dim×dim covariance
    * materialization, each round one aggregation pass of dim exact
    * DECIMAL sums. Both iterates are emitted and hash-checked: the
    * oracle replays mean, matvec, normalize with the identical fold
    * order and 6-dp rounding, certifying the whole iterative chain.
    * Planted-direction recovery at more iterations is spec-proven
    * (ModelSpec). This is the embedding-whitening / dimensionality-
    * reduction primitive a23's Matryoshka rerank assumes upstream
    * models provide.
    */
  val a29 = Q("a29_pca_power_iteration",
    (s, dir) => {
      import s.implicits._
      val (_, iters) = graft.ops.Model.powerIterationPc1(
        load(s, dir, "embeddings"), "embedding", dims = 64, iters = 2)
      val Seq(v1, v2) = iters
      (1 to 64).map(j => (j.toLong, v1(j - 1), v2(j - 1)))
        .toDF("j", "p1", "p2")
        .orderBy(col("j"))
    },
    Some("""
      WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT COUNT(*) AS c FROM e),
      m AS (
        SELECT j, ROUND(CAST(SUM(CAST(ROUND(v[j], 6) AS DECIMAL(28,6))) AS DOUBLE)
          / (SELECT c FROM n), 6) AS mu
        FROM e, generate_series(1, 64) t(j) GROUP BY j),
      ml AS (SELECT list(mu ORDER BY j) AS mul FROM m),
      cent AS (
        SELECT list_transform(generate_series(1, 64),
                 i -> v[i] - ml.mul[i]) AS cv
        FROM e, ml),
      d1 AS (
        SELECT cv, list_reduce(list_prepend(0.0,
          list_transform(generate_series(1, 64),
            i -> cv[i] * (CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END))),
          (a, x) -> a + x) AS d
        FROM cent),
      u1 AS (
        SELECT j, ROUND(CAST(SUM(CAST(ROUND(cv[j] * d, 6) AS DECIMAL(28,6))) AS DOUBLE)
          / (SELECT c FROM n), 6) AS u
        FROM d1, generate_series(1, 64) t(j) GROUP BY j),
      n1 AS (
        SELECT SQRT(list_reduce(list_prepend(0.0,
          list_transform(list(u ORDER BY j), x -> x * x)),
          (a, x) -> a + x)) AS nrm
        FROM u1),
      v1 AS (SELECT j, ROUND(u / (SELECT nrm FROM n1), 6) AS p FROM u1),
      v1l AS (SELECT list(p ORDER BY j) AS pl FROM v1),
      d2 AS (
        SELECT cv, list_reduce(list_prepend(0.0,
          list_transform(generate_series(1, 64),
            i -> cv[i] * v1l.pl[i])),
          (a, x) -> a + x) AS d
        FROM cent, v1l),
      u2 AS (
        SELECT j, ROUND(CAST(SUM(CAST(ROUND(cv[j] * d, 6) AS DECIMAL(28,6))) AS DOUBLE)
          / (SELECT c FROM n), 6) AS u
        FROM d2, generate_series(1, 64) t(j) GROUP BY j),
      n2 AS (
        SELECT SQRT(list_reduce(list_prepend(0.0,
          list_transform(list(u ORDER BY j), x -> x * x)),
          (a, x) -> a + x)) AS nrm
        FROM u2),
      v2 AS (SELECT j, ROUND(u / (SELECT nrm FROM n2), 6) AS p FROM u2)
      SELECT v1.j, v1.p AS p1, v2.p AS p2
      FROM v1 JOIN v2 ON v1.j = v2.j
      ORDER BY v1.j"""))

  /** kNN-graph construction ([[graft.ops.VectorSearch.knnGraph]]) in
    * its C=1 exactness configuration: one Voronoi cell puts every
    * node's candidates at the whole (subset) corpus, so the cell-
    * confined graph provably equals the exact all-pairs kNN graph —
    * DuckDB-hash-checked per node (top-5, rank included). The
    * production path is C cells × nprobe probes, where the join
    * fan-in per node is its probed cells' population; nprobe=C
    * brute-force equality at real C and planted-copy rank-1 recovery
    * at small nprobe are spec-asserted (KnnGraphSpec).
    */
  val a30 = Q("a30_knn_graph",
    (s, dir) => {
      val e = load(s, dir, "embeddings")
        .filter(pmod(col("vec_id"), lit(5)) === 0)
      V.knnGraph(e, "vec_id", "embedding",
          cents = Array(Seq.fill(64)(0.0f)), k = 5, nprobe = 1)
        .select(col("src_id"), col("nbr_id"), col("sim"), col("rank"))
        .orderBy(col("src_id"), col("rank"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % 5 = 0),
      p AS (
        SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
          ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      r AS (
        SELECT src_id, nbr_id, sim,
          CAST(ROW_NUMBER() OVER (PARTITION BY src_id
            ORDER BY sim DESC, nbr_id) AS INT) AS rank
        FROM p)
      SELECT src_id, nbr_id, sim, rank FROM r
      WHERE rank <= 5 ORDER BY src_id, rank"""))

  /** SQ8 scalar quantization ([[graft.ops.VectorSearch.trainSqBounds]]
    * — faiss's QT_8bit, the remaining classic quantizer next to PQ/
    * IVF-PQ/Matryoshka): one byte per DIMENSION under per-dim [min,max]
    * bounds trained in a single aggregation pass (no Lloyd rounds at
    * all — SQ8's train cost is one scan, its 4× compression and
    * LUT-free integer-dot ADC are why it is the default first rung of
    * production quantization ladders). a31 is the shortlist-all
    * degenerate twin (ADC ordering computed, then EVERY id re-ranked
    * exactly → must equal brute force, a01's oracle); the lossy
    * shortlist quality — recall of the top-50 ADC cut and the
    * per-dimension decode error bound — is SqSpec territory.
    */
  private[graft] def a31Build(s: SparkSession, dir: String): (String, (Array[Double], Array[Double])) = {
    val e = load(s, dir, "embeddings")
    val base = a10Normalized(graft.ops.fanOut(e.filter(col("vec_id") =!= 0)))
    val bounds = V.trainSqBounds(base, "nv")
    val out = java.nio.file.Files.createTempDirectory("graft_sq8")
      .resolve("codes").toString
    base.select(col("vec_id"),
        V.sqEncode(col("nv"), bounds._1, bounds._2).as("codes"))
      .coalesce(4)
      .write.mode("overwrite").parquet(out)
    (out, bounds)
  }

  private[graft] def a31Probe(s: SparkSession, dir: String, path: String,
      bounds: (Array[Double], Array[Double]), shortlist: Int): DataFrame = {
    val e = load(s, dir, "embeddings")
    val qv = a10Normalized(e.filter(col("vec_id") === 0))
      .select(col("nv")).head().getSeq[Double](0)
    val coded = Skipping.readParquet(s, path)
      .withColumn("adc", V.sqScore(col("codes"), qv, bounds._1, bounds._2))
    val cand = V.batchTopK(coded.select(lit(0L).as("qid"),
        col("vec_id"), col("adc")), "qid", "vec_id", "adc", k = shortlist)
      .select(col("vec_id"))
    exactTop10From(e, cand)
  }

  val a31 = Q("a31_sq8_shortlist_all",
    (s, dir) => {
      val (path, bounds) = a31Build(s, dir)
      a31Probe(s, dir, path, bounds, shortlist = 1000000)
    },
    a01Top10Oracle)

  /** IVF × SQ8 persisted index ([[graft.ops.VectorSearch
    * .buildIvfSqIndex]] — a11's layout with SQ8 byte codes instead of
    * PQ cell ids: the cheapest index to build, because SQ8 bounds come
    * from ONE aggregation pass where PQ needs Lloyd rounds). a32 is
    * the a19-style degenerate twin: every cell probed, unbounded
    * shortlist, candidate ids re-ranked through the a01 expression —
    * must equal brute force. The pruned regime (nprobe < C, bounded
    * shortlist) is SqSpec territory.
    */
  private[graft] def a32Build(s: SparkSession, dir: String)
      : (String, Array[Seq[Float]], (Array[Double], Array[Double])) = {
    val e = load(s, dir, "embeddings")
    val base = graft.ops.fanOut(e.filter(col("vec_id") =!= 0))
    val cents = V.trainCentroids(base, "vec_id", "embedding", c = 8, iters = 1)
    val bounds = V.trainSqBounds(a10Normalized(base), "nv")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfsq")
      .resolve("index").toString
    V.buildIvfSqIndex(base, "vec_id", "embedding", cents, bounds._1, bounds._2, idx)
    (idx, cents, bounds)
  }

  private[graft] def a32Probe(s: SparkSession, dir: String, idx: String,
      cents: Array[Seq[Float]], bounds: (Array[Double], Array[Double]),
      nprobe: Int, shortlist: Int): DataFrame = {
    val e = load(s, dir, "embeddings")
    val qv = a10Normalized(e.filter(col("vec_id") === 0))
      .select(col("nv")).head().getSeq[Double](0)
    val cand = V.probeIvfSqIndex(s, idx, qv, cents, bounds._1, bounds._2,
        nprobe, shortlist, idCol = "vec_id")
      .select(col("vec_id"))
    exactTop10From(e, cand)
  }

  val a32 = Q("a32_ivfsq_probe_all",
    (s, dir) => {
      val (idx, cents, bounds) = a32Build(s, dir)
      a32Probe(s, dir, idx, cents, bounds, nprobe = 8, shortlist = 1000000)
    },
    a01Top10Oracle)

  /** FILTERED vector search — the production shape almost every
    * retrieval query actually has ("nearest neighbors WHERE
    * label/tenant/date = …"). The metadata predicate composes INTO the
    * persisted-index probe, not after it: the probe's cell-pruned read
    * filters on `label` at the parquet scan (pushed filter inside the
    * surviving cell partitions — post-filtering a top-k would instead
    * return < k rows whenever the filter is selective), and only then
    * scores and ranks. Run at nprobe = C, the degeneracy where the
    * filtered probe must equal exact filtered brute force — which is
    * the DuckDB oracle; the pushdown + selective-nprobe recall claims
    * are IvfIndexSpec's.
    */
  /** a33's steady-state phase (bench: probe timed apart from the
    * one-time index build).
    */
  private[graft] def a33Probe(s: SparkSession, dir: String, idx: String,
      cents: Array[Seq[Float]]): DataFrame =
    V.probeIvfIndex(s, idx, load(s, dir, "embeddings")
        .filter(col("vec_id") === 0), "embedding", cents,
        nprobe = cents.length)
      .filter(col("label") === 3)
      .select(col("vec_id"), col("label"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)

  val a33 = Q("a33_ann_filtered",
    (s, dir) => {
      val (idx, cents) = a06Build(s, dir)
      a33Probe(s, dir, idx, cents)
    },
    Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, label,
        ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qe AS DOUBLE[])), 6) AS sim
      FROM embeddings, q WHERE vec_id <> 0 AND label = 3
      ORDER BY sim DESC, vec_id LIMIT 10"""))

  /** NN-descent refinement ([[graft.ops.VectorSearch.nnDescent]]) of a
    * sparse IVF-cell kNN graph: the LINEAR-cost all-nodes construction
    * (Σ|B(u)|² ≤ N·(2k)² + N·explore proposals per round — the bound
    * holds because in-edges are capped at top-k per node before the
    * pair join, the paper's reverse sampling) that
    * complements the Θ(N^1.5) IVF build measured in SCALE.md's
    * a30_knn_graph_prod row. The corpus is a deterministic 1-D
    * manifold keyed by the table's vec_ids (nearby ids ⇒ nearby
    * vectors) — the INTRINSIC-STRUCTURE regime real embedding corpora
    * live in and the one NN-descent's convergence provably rides on;
    * the table's own isotropic embedding column is the algorithm's
    * adversarial case and its measured degeneration is pinned in
    * NnDescentSpec (so is the brute-force exactness degeneracy and the
    * closure property). Deterministic but iterative — not
    * SQL-expressible, so rows-only here.
    */
  val a34 = Q("a34_nn_descent",
    (s, dir) => {
      val e = load(s, dir, "embeddings")
        .filter(pmod(col("vec_id"), lit(5)) === 0)
        .select(col("vec_id"))
        .withColumn("embedding", transform(sequence(lit(0), lit(15)),
          i => sin(col("vec_id") * 0.37 + i * 1.3).cast("float")))
      val cents = V.trainCentroids(e, "vec_id", "embedding", c = 16, iters = 2)
      val init = V.knnGraph(e, "vec_id", "embedding", cents, k = 5, nprobe = 1)
      V.nnDescent(e, "vec_id", "embedding", init, k = 5, rounds = 3, explore = 5)
        .select(col("src_id"), col("nbr_id"), col("sim"), col("rank"))
        .orderBy(col("src_id"), col("rank"))
    },
    None)

  def qs: Seq[Q] = Seq(a01, a02, a03, a04, a05, a06, a07, a08, a09, a10,
    a11, a12, a13, a14, a15, a16, a17, a18, a19, a20, a21, a22, a23, a24,
    a25, a26, a27, a28, a29, a30, a31, a32, a33, a34)
}
