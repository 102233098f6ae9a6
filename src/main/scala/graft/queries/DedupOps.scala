package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.T._
import graft.ops.Dedup

/** Deduplication family over `documents.parquet`. The corpus has no
  * natural duplicates, so each query PLANTS them deterministically
  * (union of mutated copies, same construction in the oracle where one
  * exists) — the pipelines then have to find exactly those.
  */
object DedupOps {

  /** documents ∪ exact-dup copies (case/whitespace mutated; every 7th
    * doc) — normalization-invariant, so they must land in the same
    * exact-dup cluster.
    */
  private def withExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents")
    d.select(col("doc_id"), col("text")).unionByName(
      d.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit("  ")).as("text")))
  }

  /** documents ∪ near-dup copies (every 11th doc, a few tokens
    * appended) — high-Jaccard but not exact.
    */
  private def withNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents")
    d.select(col("doc_id"), col("text")).unionByName(
      d.filter(pmod(col("doc_id"), lit(11)) === 0)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" graft appended marker tokens")).as("text")))
  }

  /** Exact dedup: normalize → 64-bit fingerprint → one hash-groupBy.
    * Oracle groups by the normalized string itself (same clusters unless
    * a 64-bit collision occurs, which the oracle check would surface).
    */
  val d01 = Q("d01_exact_dedup",
    (s, dir) => Dedup.exactDupClusters(withExactDups(s, dir), col("doc_id"), col("text"))
      .orderBy(col("keep_id")),
    Some("""
      WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000, concat('  ', upper(text), '  ')
        FROM documents WHERE doc_id % 7 = 0),
      norm AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS n
        FROM all_docs)
      SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_docs,
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
      FROM norm GROUP BY n HAVING COUNT(*) > 1 ORDER BY keep_id"""))

  /** MinHash-LSH near-dup pairs, bucketed (never all-pairs), with exact
    * shingle-Jaccard verification of every candidate. Sketch-specific —
    * rows-only check here; planted-pair recovery is asserted in
    * ScalaTest.
    */
  val d02 = Q("d02_minhash_lsh_pairs",
    (s, dir) => {
      val docs = withNearDups(s, dir)
      val pairs = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
        shingleSize = 3, numHashes = 64, bands = 16, minSim = 0.5)
      // shingle arrays are read by both verify-join sides — compute once
      val sh = graft.ops.cacheOnce(
        docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh")))
      pairs
        .join(sh.withColumnRenamed("doc_id", "id1").withColumnRenamed("sh", "sh1"), Seq("id1"))
        .join(sh.withColumnRenamed("doc_id", "id2").withColumnRenamed("sh", "sh2"), Seq("id2"))
        .select(col("id1"), col("id2"), round(col("est_sim"), 4).as("est_sim"),
          round(Dedup.jaccard(col("sh1"), col("sh2")), 4).as("exact_jaccard"))
        .filter(col("exact_jaccard") >= 0.5)
        .orderBy(col("id1"), col("id2"))
    },
    None)

  /** SimHash near-dup pairs via 4×16-bit banding + hamming verify. */
  val d03 = Q("d03_simhash_pairs",
    (s, dir) => Dedup.simhashPairs(withNearDups(s, dir), col("doc_id"), col("text"),
      bands = 4, maxHamming = 6)
      .orderBy(col("id1"), col("id2")),
    None)

  /** Winnowing-fingerprint overlap (Schleimer et al. 2003): pairs
    * sharing selected k-gram fingerprints, bucketed by fingerprint
    * value (the containment/plagiarism-detection shape — finds overlap
    * even where shingle sets diverge).
    */
  val d04 = Q("d04_winnow_overlap",
    (s, dir) => {
      import graft.functions.{GraftFunctions => G}
      // fanOut: winnowing (normalize + rolling char-8-gram hash per doc)
      // runs on the narrow union's couple of scan tasks otherwise
      val fpsAll = graft.ops.fanOut(withNearDups(s, dir))
        .select(col("doc_id"),
          explode(G.winnowFingerprint(col("text"), k = 8, w = 4)).as("fp"))
      // skew guard: fingerprints shared by many documents are both
      // uninformative and quadratic in the bucket join — cap bucket size
      // (the LSH-style frequent-token guard)
      val rare = fpsAll.groupBy(col("fp"))
        .agg(count(lit(1)).as("df")).filter(col("df") <= 50).select("fp")
      val fps = graft.ops.cacheOnce(fpsAll.join(rare, Seq("fp")))
      fps.select(col("fp"), col("doc_id").as("id1"))
        .join(fps.select(col("fp"), col("doc_id").as("id2")), Seq("fp"))
        .filter(col("id1") < col("id2"))
        .groupBy(col("id1"), col("id2"))
        .agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= 20)
        .orderBy(col("id1"), col("id2"))
    },
    None)

  /** d02's 100 TB shape: the MinHash signature table is WRITTEN to a
    * parquet table and read back (no executor-memory pin, shareable
    * across runs), then banded into the same candidate pairs. ScalaTest
    * asserts persisted == cached pair-for-pair; here the persisted path
    * runs under the driver's gate like any other query.
    */
  val d05 = Q("d05_minhash_persisted_sigs",
    (s, dir) => {
      val sigPath = java.nio.file.Files.createTempDirectory("graft_sig_table")
        .resolve("signatures").toString
      val sigs = Dedup.persistedMinhashSignatures(
        withNearDups(s, dir), col("doc_id"), col("text"), sigPath,
        shingleSize = 3, numHashes = 64)
      Dedup.minhashLshPairsFromSigs(sigs, numHashes = 64, bands = 16, minSim = 0.5)
        .select(col("id1"), col("id2"), round(col("est_sim"), 4).as("est_sim"))
        .orderBy(col("id1"), col("id2"))
    },
    None)

  /** Exact n-gram Jaccard similarity join (prefix-filtered inverted
    * index — see [[graft.ops.Dedup.ngramJaccardPairs]]). Unlike the
    * sketch pipelines (d02-d05) the answer is exact, so this one is
    * fully DuckDB-oracle-checked: the oracle brute-forces shared
    * shingles; the engine must reach the identical pair set through
    * the prefix filter.
    */
  val d06 = Q("d06_ngram_jaccard",
    (s, dir) => Dedup.ngramJaccardPairs(withNearDups(s, dir),
      col("doc_id"), col("text"), k = 3, tau = 0.6)
      .select(col("id1"), col("id2"), round(col("jacc"), 4).as("jacc"))
      .orderBy(col("id1"), col("id2")),
    Some("""
      WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 20000, concat(text, ' graft appended marker tokens')
        FROM documents WHERE doc_id % 11 = 0),
      norm AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        FROM all_docs),
      sh AS (
        SELECT DISTINCT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
        FROM norm, UNNEST(generate_series(1, greatest(len(toks) - 2, 0))) AS t(i)),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      common AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
        FROM sh a JOIN sh b USING (s)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id1, id2, ROUND(c * 1.0 / (s1.n + s2.n - c), 4) AS jacc
      FROM common
      JOIN sizes s1 ON s1.doc_id = id1
      JOIN sizes s2 ON s2.doc_id = id2
      WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6
      ORDER BY id1, id2"""))

  /** Leakage-safe train/test split: the 80/20 assignment is a pure
    * function of the exact-dup CLUSTER (min doc_id over the normalized
    * text group), never of the individual document — duplicates cannot
    * straddle the split, the classic eval-contamination bug. The
    * assignment hash is plain multiplicative arithmetic (Knuth), shared
    * verbatim with the oracle; the engine groups on the 64-bit text
    * fingerprint, the oracle on the normalized string (identical
    * clusters barring a 64-bit collision — d01's stance).
    */
  val d07 = Q("d07_split_by_cluster",
    (s, dir) => {
      import graft.functions.{GraftFunctions => G}
      val byFp = Window.partitionBy(G.hash64(G.normalizeWs(col("text"))))
      withExactDups(s, dir)
        .select(col("doc_id"), min(col("doc_id")).over(byFp).as("cluster_id"))
        .select(col("doc_id"), col("cluster_id"),
          when(pmod(col("cluster_id") * lit(2654435761L), lit(100L)) < 80, "train")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000, concat('  ', upper(text), '  ')
        FROM documents WHERE doc_id % 7 = 0),
      cl AS (
        SELECT doc_id,
          MIN(doc_id) OVER (
            PARTITION BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
          ) AS cluster_id
        FROM all_docs)
      SELECT doc_id, cluster_id,
        CASE WHEN (cluster_id * 2654435761) % 100 < 80 THEN 'train' ELSE 'test' END AS split
      FROM cl ORDER BY doc_id"""))

  /** documents ∪ a near-dup CHAIN per 11th doc: B = A + 4 marker
    * tokens, C = B + 4 more. For short docs J(A,C) drops below the
    * d06 threshold while J(A,B) and J(B,C) stay above — the configuration
    * where pairwise dedup under-removes and only transitive closure
    * finds the full {A,B,C} cluster.
    */
  private def withNearDupChains(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents")
    val every11 = d.filter(pmod(col("doc_id"), lit(11)) === 0)
    d.select(col("doc_id"), col("text"))
      .unionByName(every11.select((col("doc_id") + 20000).as("doc_id"),
        concat(col("text"), lit(" graft appended marker tokens")).as("text")))
      .unionByName(every11.select((col("doc_id") + 40000).as("doc_id"),
        concat(col("text"), lit(" graft appended marker tokens second extension run")).as("text")))
  }

  /** Near-dup CLUSTERS: exact n-gram Jaccard pairs (d06's operator)
    * closed under transitivity with distributed connected components
    * (large-star/small-star — [[graft.ops.Graph.connectedComponents]]).
    * Fully oracle-checked: DuckDB brute-forces the same pair set and
    * closes it with a recursive CTE.
    */
  val d08 = Q("d08_neardup_clusters",
    (s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(withNearDupChains(s, dir),
        col("doc_id"), col("text"), k = 3, tau = 0.6)
      graft.ops.Graph.nearDupClusters(pairs)
        .orderBy(col("cluster_id"))
    },
    Some("""
      WITH RECURSIVE all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 20000, concat(text, ' graft appended marker tokens')
        FROM documents WHERE doc_id % 11 = 0
        UNION ALL
        SELECT doc_id + 40000, concat(text, ' graft appended marker tokens second extension run')
        FROM documents WHERE doc_id % 11 = 0),
      norm AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        FROM all_docs),
      sh AS (
        SELECT DISTINCT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
        FROM norm, UNNEST(generate_series(1, greatest(len(toks) - 2, 0))) AS t(i)),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      common AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
        FROM sh a JOIN sh b USING (s)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT id1, id2
        FROM common
        JOIN sizes s1 ON s1.doc_id = id1
        JOIN sizes s2 ON s2.doc_id = id2
        WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6),
      edges AS (
        SELECT id1 AS u, id2 AS v FROM pairs
        UNION
        SELECT id2, id1 FROM pairs),
      reach(src, dst) AS (
        SELECT u, u FROM edges
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
      lab AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
      SELECT cluster_id, COUNT(*) AS n_docs,
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
      FROM lab GROUP BY 1 ORDER BY cluster_id"""))

  /** Incremental dedup: a NEW BATCH similarity-joined against the
    * existing corpus ([[graft.ops.Dedup.ngramJaccardJoin]] — d06's
    * prefix index restricted to cross-side candidates, so corpus×corpus
    * buckets never expand; the daily-drop shape). Batch = near-dup
    * copies (every 11th doc + marker tokens), exact re-deliveries
    * (every 23rd verbatim) and heavy truncations (every 13th cut to 40
    * chars — must fall below τ). Exact like d06, so fully
    * oracle-checked.
    */
  val d09 = Q("d09_incremental_dedup",
    (s, dir) => {
      val d = load(s, dir, "documents")
      val batch = d.filter(pmod(col("doc_id"), lit(11)) === 0)
        .select((col("doc_id") + 50000).as("doc_id"),
          concat(col("text"), lit(" graft appended marker tokens")).as("text"))
        .unionByName(d.filter(pmod(col("doc_id"), lit(23)) === 0)
          .select((col("doc_id") + 70000).as("doc_id"), col("text")))
        .unionByName(d.filter(pmod(col("doc_id"), lit(13)) === 0)
          .select((col("doc_id") + 90000).as("doc_id"),
            substring(col("text"), 1, 40).as("text")))
      Dedup.ngramJaccardJoin(d.select(col("doc_id"), col("text")), batch,
          col("doc_id"), col("text"), k = 3, tau = 0.6)
        .select(col("id1"), col("id2"), round(col("jacc"), 4).as("jacc"))
        .orderBy(col("id1"), col("id2"))
    },
    Some("""
      WITH batch AS (
        SELECT doc_id + 50000 AS doc_id,
               concat(text, ' graft appended marker tokens') AS text
        FROM documents WHERE doc_id % 11 = 0
        UNION ALL
        SELECT doc_id + 70000, text FROM documents WHERE doc_id % 23 = 0
        UNION ALL
        SELECT doc_id + 90000, substr(text, 1, 40)
        FROM documents WHERE doc_id % 13 = 0),
      norm_c AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        FROM documents),
      norm_b AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        FROM batch),
      sh_c AS (
        SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
        FROM norm_c, UNNEST(generate_series(1, greatest(len(toks) - 2, 0))) AS t(i)),
      sh_b AS (
        SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
        FROM norm_b, UNNEST(generate_series(1, greatest(len(toks) - 2, 0))) AS t(i)),
      size_c AS (SELECT doc_id, COUNT(*) AS n FROM sh_c GROUP BY 1),
      size_b AS (SELECT doc_id, COUNT(*) AS n FROM sh_b GROUP BY 1),
      common AS (
        SELECT c.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
        FROM sh_c c JOIN sh_b b USING (s)
        GROUP BY 1, 2)
      SELECT id1, id2, ROUND(c * 1.0 / (s1.n + s2.n - c), 4) AS jacc
      FROM common
      JOIN size_c s1 ON s1.doc_id = id1
      JOIN size_b s2 ON s2.doc_id = id2
      WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6
      ORDER BY id1, id2"""))

  /** CJK dedup: the zh slice of the corpus has no useful word
    * boundaries (a whitespace split yields whole sentences), so d06's
    * word shingles see nothing — CHARACTER 7-grams
    * ([[graft.ops.Dedup.charShingles]]) restore granularity, and the
    * same PPJoin prefix machinery runs over them unchanged. Planted
    * suffix-mutated copies of every 5th zh doc (7-gram windows: rare enough that cross-doc bucket sharing stays small) must be the pairs found;
    * exact like d06, fully oracle-checked.
    */
  val d10 = Q("d10_cjk_char_dedup",
    (s, dir) => {
      val zh = load(s, dir, "documents")
        .filter(col("lang") === "zh").select(col("doc_id"), col("text"))
      val planted = zh.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 30000).as("doc_id"),
          concat(col("text"), lit(" 重复标记后缀")).as("text"))
      Dedup.charNgramJaccardPairs(zh.unionByName(planted),
          col("doc_id"), col("text"), k = 7, tau = 0.7)
        .select(col("id1"), col("id2"), round(col("jacc"), 4).as("jacc"))
        .orderBy(col("id1"), col("id2"))
    },
    Some("""
      WITH zh AS (SELECT doc_id, text FROM documents WHERE lang = 'zh'),
      all_docs AS (
        SELECT doc_id, text FROM zh
        UNION ALL
        SELECT doc_id + 30000, concat(text, ' 重复标记后缀')
        FROM zh WHERE doc_id % 5 = 0),
      norm AS (
        SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        FROM all_docs),
      sh AS (
        SELECT DISTINCT doc_id, substr(t, i, 7) AS s
        FROM norm, UNNEST(generate_series(1, greatest(length(t) - 6, 0))) AS g(i)
        WHERE length(t) >= 7),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      common AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
        FROM sh a JOIN sh b USING (s)
        WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT id1, id2, ROUND(c * 1.0 / (s1.n + s2.n - c), 4) AS jacc
      FROM common
      JOIN sizes s1 ON s1.doc_id = id1
      JOIN sizes s2 ON s2.doc_id = id2
      WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.7
      ORDER BY id1, id2"""))

  /** Benchmark decontamination: flag training documents that share any
    * verbatim 8-gram with a held-out benchmark set (the n-gram-overlap
    * rule used to scrub eval sets out of pretraining corpora). The
    * corpus has no natural 8-gram overlap with the tiny benchmark
    * slice, so contamination is PLANTED deterministically: every 13th
    * training doc gets the first 8 tokens of benchmark doc
    * (doc_id mod 6) appended — the identical construction in the
    * oracle, which must flag exactly those docs. Scale shape: the
    * benchmark gram set is always tiny next to the corpus, so the
    * detection join broadcasts it and the corpus grams stream through
    * map-side; only flagged (doc, gram) hits reach the final
    * aggregation shuffle.
    */
  /** d11/d16's shared fixture: (corpus-with-planted-contamination,
    * benchmark slice) — every 13th training doc gets the first 8
    * tokens of benchmark doc (doc_id mod 6) appended.
    */
  private def contaminated(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
    val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val snip = bench.select((col("doc_id") / 97).cast("long").as("bix"),
      concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 8)).as("snippet"))
    val train = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
    val planted = train.filter(pmod(col("doc_id"), lit(13)) === 0)
      .withColumn("bix", pmod(col("doc_id"), lit(6)))
      .join(snip, Seq("bix"))
      .select(col("doc_id"), concat(col("text"), lit(" "), col("snippet")).as("text"))
    (train.filter(pmod(col("doc_id"), lit(13)) =!= 0).unionByName(planted), bench)
  }

  val d11 = Q("d11_decontaminate",
    (s, dir) => {
      val (corpus, bench) = contaminated(s, dir)
      graft.ops.Curation.decontaminate(corpus, bench, "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH bench AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
      snip AS (
        SELECT doc_id // 97 AS bix,
          array_to_string((regexp_split_to_array(trim(text), '\s+'))[1:8], ' ') AS snippet
        FROM bench),
      train AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 != 0),
      planted AS (
        SELECT t.doc_id, concat(t.text, ' ', s.snippet) AS text
        FROM train t JOIN snip s ON t.doc_id % 6 = s.bix
        WHERE t.doc_id % 13 = 0),
      corpus AS (
        SELECT doc_id, text FROM train WHERE doc_id % 13 != 0
        UNION ALL SELECT doc_id, text FROM planted),
      cg AS (
        SELECT doc_id,
          toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
          toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7] AS g
        FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
              FROM corpus),
          UNNEST(generate_series(1, greatest(len(toks) - 7, 0))) AS u(i)),
      bgr AS (
        SELECT g, MIN(doc_id) AS bench_doc FROM (
          SELECT doc_id,
            toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
            toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7] AS g
          FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
                FROM bench),
            UNNEST(generate_series(1, greatest(len(toks) - 7, 0))) AS u(i)) b
        GROUP BY 1)
      SELECT doc_id, COUNT(DISTINCT g) AS n_shared_grams,
             MIN(bench_doc) AS first_bench_hit
      FROM cg JOIN bgr USING (g)
      GROUP BY 1 ORDER BY 1"""))

  /** d11 at the 100 TB operating point
    * ([[graft.ops.Curation.decontaminateBloom]]): the benchmark gram
    * set rides as a Spark bloom filter instead of a broadcast hash
    * relation of gram strings; corpus grams the filter rejects never
    * reach the exact join, and the exact join then removes the false
    * positives — so the result equals d11's, and this query runs under
    * d11's ORACLE verbatim. The pair
    * (d11, d16) is the broadcast-vs-bloom switchover a real
    * decontamination deployment makes as the eval suite grows.
    */
  val d16 = Q("d16_bloom_decontaminate",
    (s, dir) => {
      val (corpus, bench) = contaminated(s, dir)
      graft.ops.Curation.decontaminateBloom(corpus, bench, "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))
    },
    d11.oracle)

  /** Duplicated-SPAN detection (the substring-dedup shape of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", reduced to fixed k-grams): positions whose 5-gram occurs
    * more than once corpus-wide, merged into maximal contiguous spans
    * per document with gaps-and-islands (pos − row_number). Near-dup
    * copies are planted (every 11th doc + marker tail, d02's corpus),
    * so originals and copies must surface as whole-document spans.
    * Everything is exact → fully oracle-checked. Scale shape: the
    * duplicated-gram filter is a self-aggregation on the gram hash;
    * only duplicated positions (a small fraction) reach the window.
    */
  val d12 = Q("d12_duplicate_spans",
    (s, dir) => {
      graft.ops.Curation.duplicateSpans(withNearDups(s, dir),
          "doc_id", "text", k = 5)
        .select(col("doc_id"), col("span_start"), col("span_end"), col("n_grams"))
        .orderBy(col("doc_id"), col("span_start"))
    },
    Some("""
      WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 20000, concat(text, ' graft appended marker tokens')
        FROM documents WHERE doc_id % 11 = 0),
      t AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        FROM all_docs),
      g AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
          ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS g
        FROM t, UNNEST(generate_series(1, greatest(len(ws) - 4, 0))) AS u(i)),
      dup AS (SELECT g FROM (SELECT g, COUNT(*) AS c FROM g GROUP BY 1) d WHERE c > 1),
      h AS (SELECT doc_id, pos FROM g JOIN dup USING (g)),
      isl AS (
        SELECT doc_id, pos,
          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM h)
      SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
             COUNT(*) AS n_grams
      FROM isl GROUP BY doc_id, island
      ORDER BY doc_id, span_start"""))

  /** Span SCRUB — the removal half of d12 (detect → remove): the
    * duplicated spans found on the planted corpus, restricted to the
    * COPIES (doc_id ≥ 20000 — keep-one-canonical policy: originals
    * stay intact), are cut out of the token stream with one
    * index-lambda filter ([[graft.ops.Curation.scrubSpans]] — pure
    * codegen, no explode). Fully oracle-checked, including the
    * fully-scrubbed-to-empty copies and the token-exact (original
    * case) pass-through of every untouched document.
    */
  val d13 = Q("d13_scrub_spans",
    (s, dir) => {
      val corpus = withNearDups(s, dir)
      val spans = graft.ops.Curation.duplicateSpans(corpus, "doc_id", "text", k = 5)
        .filter(col("doc_id") >= 20000)
      graft.ops.Curation.scrubSpans(corpus, spans, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 20000, concat(text, ' graft appended marker tokens')
        FROM documents WHERE doc_id % 11 = 0),
      t AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws,
               regexp_split_to_array(trim(text), '\s+') AS wr
        FROM all_docs),
      g AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
          ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS g
        FROM t, UNNEST(generate_series(1, greatest(len(ws) - 4, 0))) AS u(i)),
      dup AS (SELECT g FROM (SELECT g, COUNT(*) AS c FROM g GROUP BY 1) d WHERE c > 1),
      h AS (SELECT doc_id, pos FROM g JOIN dup USING (g)),
      isl AS (
        SELECT doc_id, pos,
          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM h),
      spans AS (
        SELECT doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e
        FROM isl GROUP BY doc_id, island),
      sp AS (SELECT * FROM spans WHERE doc_id >= 20000),
      toks AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos, wr[i] AS tok
        FROM t, UNNEST(generate_series(1, len(wr))) AS u(i)),
      kept AS (
        SELECT doc_id, pos, tok FROM toks k
        WHERE NOT EXISTS (SELECT 1 FROM sp
          WHERE sp.doc_id = k.doc_id AND k.pos BETWEEN sp.s AND sp.e)),
      agg AS (
        SELECT doc_id, COUNT(*) AS n_after,
               string_agg(tok, ' ' ORDER BY pos) AS clean
        FROM kept GROUP BY 1)
      SELECT t.doc_id, CAST(len(wr) AS BIGINT) AS n_tokens_before,
        COALESCE(a.n_after, 0) AS n_tokens_after,
        COALESCE(a.clean, '') AS clean_text
      FROM t LEFT JOIN agg a USING (doc_id)
      ORDER BY doc_id"""))

  /** Asymmetric containment join ([[graft.ops.Dedup.containmentJoin]]):
    * every 17th doc gets a planted 15-token EXCERPT (id+60000) — a
    * probe whose shingles sit entirely inside its source, invisible to
    * symmetric Jaccard (J ≈ 0.15 for a 100-token source) but
    * containment 1.0. The join must recover each excerpt's source at
    * tau = 0.8; exact, so fully oracle-checked (brute-force shared
    * shingle counts in DuckDB).
    */
  val d14 = Q("d14_containment_join",
    (s, dir) => {
      val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
      val probes = docs.filter(pmod(col("doc_id"), lit(17)) === 0)
        .select((col("doc_id") + 60000).as("doc_id"),
          concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 15)).as("text"))
      Dedup.containmentJoin(docs, probes, col("doc_id"), col("text"),
          k = 3, tau = 0.8)
        .orderBy(col("id_small"), col("id_big"))
    },
    Some("""
      WITH probes AS (
        SELECT doc_id + 60000 AS doc_id,
          array_to_string((regexp_split_to_array(trim(text), '\s+'))[1:15], ' ') AS text
        FROM documents WHERE doc_id % 17 = 0),
      norm_c AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        FROM documents),
      norm_p AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        FROM probes),
      sh_c AS (
        SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
        FROM norm_c, UNNEST(generate_series(1, greatest(len(toks) - 2, 0))) AS t(i)),
      sh_p AS (
        SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
        FROM norm_p, UNNEST(generate_series(1, greatest(len(toks) - 2, 0))) AS t(i)),
      np AS (SELECT doc_id, COUNT(*) AS n FROM sh_p GROUP BY 1),
      common AS (
        SELECT p.doc_id AS id_small, c.doc_id AS id_big, COUNT(*) AS shared
        FROM sh_p p JOIN sh_c c USING (s)
        WHERE p.doc_id != c.doc_id
        GROUP BY 1, 2)
      SELECT id_small, id_big, shared,
             ROUND(shared * 1.0 / np.n, 4) AS containment
      FROM common JOIN np ON np.doc_id = id_small
      WHERE shared >= CEIL(0.8 * np.n - 1e-9)
      ORDER BY id_small, id_big"""))

  /** d14 at the 100 TB operating point
    * ([[graft.ops.Dedup.containmentJoin]] with `bloomGate = true`):
    * when the probe set outgrows the broadcast threshold, its shingle
    * set rides as a Spark bloom filter instead of a broadcast hash
    * relation; corpus shingles the filter rejects never enter the
    * exchange, and the exact shuffle join removes the false
    * positives — so the result equals d14's, and
    * this query runs under d14's ORACLE verbatim. The pair (d14, d18)
    * is the broadcast-vs-bloom switchover a real excerpt-detection
    * deployment makes as the probe batch grows — d16's stance, applied
    * to the containment join.
    */
  val d18 = Q("d18_containment_bloom",
    (s, dir) => {
      val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
      val probes = docs.filter(pmod(col("doc_id"), lit(17)) === 0)
        .select((col("doc_id") + 60000).as("doc_id"),
          concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 15)).as("text"))
      Dedup.containmentJoin(docs, probes, col("doc_id"), col("text"),
          k = 3, tau = 0.8, bloomGate = true)
        .orderBy(col("id_small"), col("id_big"))
    },
    d14.oracle)

  /** d03's pigeonhole-EXACT configuration with exact verification: at
    * `maxHamming = 0` the banded SimHash join finds every pair with
    * EQUAL sketches (hamming 0 ≤ bands−1, so pigeonhole guarantees a
    * shared band — no recall loss is possible), and a TF-weighted
    * SimHash is a function of the normalized token MULTISET, so
    * d01's case/whitespace-mutated planted copies are all candidates.
    * But SimHash is locality-sensitive BY DESIGN — similar-but-unequal
    * documents can share a sketch too — so candidates are then
    * exact-verified by joining back to the documents and keeping only
    * pairs whose sorted normalized token multisets are equal. Recall
    * is exact (equal multiset ⇒ equal sketch ⇒ candidate), precision
    * is exact (verify), so the output provably equals the oracle's
    * multiset self-join. This is the candidate-generation + verify
    * shape every production sketch dedup uses, DuckDB-certified;
    * banding ≡ brute force at maxHamming = bands−1 stays
    * DedupSketchSpec's job.
    */
  val d19 = Q("d19_simhash_exact_dups",
    (s, dir) => {
      import graft.functions.{GraftFunctions => G}
      val docs = withExactDups(s, dir)
      val cands = Dedup.simhashPairs(docs, col("doc_id"), col("text"),
        bands = 4, maxHamming = 0)
      // multiset key: sorted normalized tokens — candidates are few, so
      // the two verify joins touch the docs table twice but move only
      // (id, key) pairs through the exchange
      val mk = docs.select(col("doc_id"),
        array_join(array_sort(split(G.normalizeWs(col("text")), " ")), " ").as("mk"))
      cands
        .join(mk.select(col("doc_id").as("id1"), col("mk").as("mk1")), Seq("id1"))
        .join(mk.select(col("doc_id").as("id2"), col("mk").as("mk2")), Seq("id2"))
        .filter(col("mk1") === col("mk2"))
        .select(col("id1"), col("id2"), col("hamming"))
        .orderBy(col("id1"), col("id2"))
    },
    Some("""
      WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000, concat('  ', upper(text), '  ')
        FROM documents WHERE doc_id % 7 = 0),
      norm AS (
        SELECT doc_id,
          array_to_string(list_sort(string_split(
            trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')), ' ') AS mk
        FROM all_docs)
      SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(0 AS INTEGER) AS hamming
      FROM norm a JOIN norm b ON a.mk = b.mk AND a.doc_id < b.doc_id
      ORDER BY id1, id2"""))

  /** d04's degenerate-EXACT configuration: winnowing with window
    * `w = 1` selects the minimum of every 1-wide window — i.e. EVERY
    * character k-gram hash — so the fingerprint set is the full
    * distinct char-8-gram inventory and the overlap count is exact,
    * brute-forceable in DuckDB over the same normalized text. The df
    * and shared-fp thresholds mirror d04's pipeline shape (rare-gram
    * guard, ≥ 20 shared); the only approximation left is 64-bit
    * rolling-hash collisions, the accepted d01 stance. Real-window
    * (w > 1) selection behavior stays DedupSketchSpec's job.
    */
  val d20 = Q("d20_winnow_all_grams",
    (s, dir) => {
      import graft.functions.{GraftFunctions => G}
      // fanOut: winnowing (normalize + rolling char-8-gram hash per doc)
      // runs on the narrow union's couple of scan tasks otherwise
      val fpsAll = graft.ops.fanOut(withNearDups(s, dir))
        .select(col("doc_id"),
          explode(G.winnowFingerprint(col("text"), k = 8, w = 1)).as("fp"))
      val rare = fpsAll.groupBy(col("fp"))
        .agg(count(lit(1)).as("df")).filter(col("df") <= 50).select("fp")
      val fps = graft.ops.cacheOnce(fpsAll.join(rare, Seq("fp")))
      fps.select(col("fp"), col("doc_id").as("id1"))
        .join(fps.select(col("fp"), col("doc_id").as("id2")), Seq("fp"))
        .filter(col("id1") < col("id2"))
        .groupBy(col("id1"), col("id2"))
        .agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= 20)
        .orderBy(col("id1"), col("id2"))
    },
    Some("""
      WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 20000, concat(text, ' graft appended marker tokens')
        FROM documents WHERE doc_id % 11 = 0),
      norm AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        FROM all_docs),
      grams AS (
        SELECT DISTINCT doc_id, substring(nt, i, 8) AS g
        FROM norm, UNNEST(generate_series(1, greatest(length(nt) - 7, 0))) AS u(i)),
      rare AS (
        SELECT g FROM (SELECT g, COUNT(*) AS df FROM grams GROUP BY 1)
        WHERE df <= 50)
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared_fps
      FROM (SELECT doc_id, g FROM grams JOIN rare USING (g)) a
      JOIN (SELECT doc_id, g FROM grams JOIN rare USING (g)) b
        ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 20
      ORDER BY id1, id2"""))

  /** SemDeDup over embeddings ([[graft.ops.VectorSearch.semDedup]],
    * Abbas et al. 2023): cluster-confined cosine pairs, drop every
    * vector with a smaller-id neighbor at cosine ≥ 0.99, keep-first.
    * Planting is a05's (every 13th vector gets a perturbed copy whose
    * id starts at max+1 — always the larger id, so exactly the copies
    * must go).
    * Run at C = 1, where the clustered algorithm provably equals the
    * brute-force rule the oracle states; C > 1 recall behavior (same
    * planted copies still always drop — identical vectors share a
    * cell at any C) is SemDedupSpec's job.
    */
  val d15 = Q("d15_semantic_dedup",
    (s, dir) => {
      import graft.ops.{VectorSearch => V}
      val e = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      // planted ids start at max+1 (mirrored as a scalar subquery in the
      // oracle) — a bigger corpus can never collide into the planted
      // range. The offset rides IN-PLAN as a 1-row broadcast scalar
      // (coalesced, so an empty table yields offset 0 instead of an
      // NPE) — no eager driver action at query-construction time
      val off = broadcast(e.agg(
        (coalesce(max(col("vec_id")), lit(-1L)) + lit(1L)).as("_off")))
      val planted = e.filter(pmod(col("vec_id"), lit(13)) === 0)
        .crossJoin(off)
        .select((col("vec_id") + col("_off")).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
      val all = e.unionByName(planted)
      val cents = V.trainCentroids(all, "vec_id", "embedding", c = 1, iters = 1)
      V.semDedup(all, "vec_id", "embedding", cents, tau = 0.99)
        .select(col("id").as("vec_id"))
        .orderBy(col("vec_id"))
    },
    Some("""
      WITH all_vecs AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        UNION ALL
        SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM embeddings),
               CAST(list_transform(embedding,
                 (x, i) -> CASE WHEN i = 1 THEN CAST(x + CAST(0.01 AS FLOAT) AS FLOAT) ELSE x END)
                 AS DOUBLE[])
        FROM embeddings WHERE vec_id % 13 = 0),
      dropped AS (
        SELECT DISTINCT b.vec_id
        FROM all_vecs a JOIN all_vecs b ON a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(a.e, b.e), 6) >= 0.99)
      SELECT vec_id FROM all_vecs
      WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
      ORDER BY vec_id"""))

  /** Global line-level dedup (the C4 / RefinedWeb boilerplate rule:
    * across the WHOLE corpus, only the first occurrence of each exact
    * line survives; cookie banners, nav bars, and shared footers
    * vanish from every later document). The corpus is single-line
    * prose, so the query first materializes a deterministic line
    * structure — 10-token body lines plus a planted shared boilerplate
    * header (every 5th doc) and per-source footer (every 3rd doc), the
    * same construction in the oracle — then keeps rank-1 per line key
    * (first by (doc_id, pos)) and reassembles each document from its
    * surviving lines in order. Plan shape: one exchange on the line
    * key (first-occurrence window — per-line groups are duplicate-
    * count-sized, never corpus-sized) and one on doc_id (reassembly);
    * line payloads could ride as hashes + a rank-1 semi-join at 100 TB
    * but the shape is already the linear one. Docs whose every line
    * is a duplicate still appear (LEFT join + empty-text COALESCE).
    */
  val d17 = Q("d17_line_dedup",
    (s, dir) => {
      val lineLen = 10
      val docs = load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          split(trim(col("text")), "\\s+").as("toks"))
        .withColumn("nl",
          ceil(size(col("toks")) / lit(lineLen.toDouble)).cast("int"))
        .withColumn("lines", concat(
          when(pmod(col("doc_id"), lit(5)) === 0,
            array(lit("aceite os cookies para continuar")))
            .otherwise(array().cast("array<string>")),
          transform(sequence(lit(0), col("nl") - 1),
            i => array_join(slice(col("toks"), i * lineLen + 1, lit(lineLen)), " ")),
          when(pmod(col("doc_id"), lit(3)) === 0,
            array(concat(lit("fonte "), col("source"))))
            .otherwise(array().cast("array<string>"))))
      val exploded = docs
        .select(col("doc_id"), posexplode(col("lines")).as(Seq("pos0", "line")))
        .withColumn("pos", (col("pos0") + 1).cast("long")).drop("pos0")
      val wFirst = Window.partitionBy(col("line")).orderBy(col("doc_id"), col("pos"))
      val kept = exploded.withColumn("rk", row_number().over(wFirst))
        .filter(col("rk") === 1)
      val reassembled = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), "\n").as("text_dedup"))
      docs.select(col("doc_id"), size(col("lines")).cast("long").as("n_lines"))
        .join(reassembled, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_lines"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("text_dedup"), lit("")).as("text_dedup"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, source,
          regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      l AS (
        SELECT doc_id,
          list_concat(list_concat(
            CASE WHEN doc_id % 5 = 0
              THEN ['aceite os cookies para continuar']
              ELSE CAST([] AS VARCHAR[]) END,
            list_transform(
              generate_series(1, CAST(CEIL(len(toks) / 10.0) AS INT)),
              i -> array_to_string(toks[(i - 1) * 10 + 1 : i * 10], ' '))),
            CASE WHEN doc_id % 3 = 0
              THEN ['fonte ' || source]
              ELSE CAST([] AS VARCHAR[]) END) AS lines
        FROM d),
      e AS (
        SELECT doc_id, CAST(t.i AS BIGINT) AS pos, lines[t.i] AS line
        FROM l, UNNEST(generate_series(1, len(lines))) AS t(i)),
      k AS (
        SELECT doc_id, pos, line,
          ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rk
        FROM e),
      agg AS (
        SELECT doc_id, COUNT(*) AS n_kept,
          string_agg(line, chr(10) ORDER BY pos) AS text_dedup
        FROM k WHERE rk = 1 GROUP BY 1)
      SELECT l.doc_id, CAST(len(l.lines) AS BIGINT) AS n_lines,
        COALESCE(a.n_kept, 0) AS n_kept,
        COALESCE(a.text_dedup, '') AS text_dedup
      FROM l LEFT JOIN agg a USING (doc_id)
      ORDER BY l.doc_id"""))

  /** Canonical-representative selection — the step AFTER d08's
    * clustering that a dedup pipeline actually ships: each near-dup
    * cluster keeps exactly one survivor (the longest-by-token-count
    * document, ties to the lowest id — the "keep the most complete
    * copy" heuristic) and reports how many it drops. Selection is a
    * single `max_by` aggregate over the component labels (no window,
    * no sort — cluster sizes bound the agg state), so the whole
    * survivor table costs one key-sized shuffle beyond the clustering
    * itself. Token counts, not char lengths, so the quality key uses
    * the same whitespace arithmetic both engines already agree on.
    */
  val d21 = Q("d21_canonical_selection",
    (s, dir) => {
      val docs = withNearDupChains(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs,
        col("doc_id"), col("text"), k = 3, tau = 0.6)
      val labels = graft.ops.Graph.connectedComponents(
        pairs.select(col("id1"), col("id2")))
      labels
        .join(docs.select(col("doc_id").as("id"),
          size(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "))
            .cast("long").as("n_tok")), Seq("id"))
        .groupBy(col("component").as("cluster_id"))
        .agg(max_by(col("id"), struct(col("n_tok"), -col("id"))).as("keep_id"),
          count(lit(1)).as("n_docs"),
          (count(lit(1)) - lit(1)).as("n_dropped"))
        .orderBy(col("cluster_id"))
    },
    Some("""
      WITH RECURSIVE all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 20000, concat(text, ' graft appended marker tokens')
        FROM documents WHERE doc_id % 11 = 0
        UNION ALL
        SELECT doc_id + 40000, concat(text, ' graft appended marker tokens second extension run')
        FROM documents WHERE doc_id % 11 = 0),
      norm AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        FROM all_docs),
      sh AS (
        SELECT DISTINCT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
        FROM norm, UNNEST(generate_series(1, greatest(len(toks) - 2, 0))) AS t(i)),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      common AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
        FROM sh a JOIN sh b USING (s)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT id1, id2
        FROM common
        JOIN sizes s1 ON s1.doc_id = id1
        JOIN sizes s2 ON s2.doc_id = id2
        WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6),
      edges AS (
        SELECT id1 AS u, id2 AS v FROM pairs
        UNION
        SELECT id2, id1 FROM pairs),
      reach(src, dst) AS (
        SELECT u, u FROM edges
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
      lab AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
      sel AS (
        SELECT lab.cluster_id, lab.doc_id,
          CAST(len(n.toks) AS BIGINT) AS n_tok
        FROM lab JOIN norm n ON n.doc_id = lab.doc_id),
      r AS (
        SELECT cluster_id, doc_id,
          ROW_NUMBER() OVER (PARTITION BY cluster_id
            ORDER BY n_tok DESC, doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY cluster_id) AS n
        FROM sel)
      SELECT cluster_id, doc_id AS keep_id, n AS n_docs, n - 1 AS n_dropped
      FROM r WHERE rn = 1 ORDER BY cluster_id"""))

  /** Boilerplate-frequency line filter (the OTHER C4 line rule — d17
    * keeps the FIRST occurrence of every duplicate line; this one
    * strips a line from EVERY document once it appears in >= 3 distinct
    * documents, the cookie-banner/nav/footer scrub). Same planted-line
    * construction as d17 so the two rules are directly comparable.
    * Plan shape: one distinct-count aggregate on the line key produces
    * the boilerplate set — tiny by construction (only lines shared
    * across docs survive the HAVING), so it BROADCASTS into a
    * left-anti join; no second corpus-sized shuffle. At 100 TB the
    * line key rides as a 64-bit hash with the strings resolved only
    * for the broadcast set; the shape here is already that one.
    */
  val d22 = Q("d22_boilerplate_strip",
    (s, dir) => {
      val lineLen = 10
      val docs = load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          split(trim(col("text")), "\\s+").as("toks"))
        .withColumn("nl",
          ceil(size(col("toks")) / lit(lineLen.toDouble)).cast("int"))
        .withColumn("lines", concat(
          when(pmod(col("doc_id"), lit(5)) === 0,
            array(lit("aceite os cookies para continuar")))
            .otherwise(array().cast("array<string>")),
          transform(sequence(lit(0), col("nl") - 1),
            i => array_join(slice(col("toks"), i * lineLen + 1, lit(lineLen)), " ")),
          when(pmod(col("doc_id"), lit(3)) === 0,
            array(concat(lit("fonte "), col("source"))))
            .otherwise(array().cast("array<string>"))))
      val exploded = docs
        .select(col("doc_id"), posexplode(col("lines")).as(Seq("pos0", "line")))
        .withColumn("pos", (col("pos0") + 1).cast("long")).drop("pos0")
      val boiler = exploded.groupBy(col("line"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 3)
        .select(col("line"))
      val kept = exploded.join(broadcast(boiler), Seq("line"), "left_anti")
      val reassembled = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), "\n").as("text_kept"))
      docs.select(col("doc_id"), size(col("lines")).cast("long").as("n_lines"))
        .join(reassembled, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_lines"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("text_kept"), lit("")).as("text_kept"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, source,
          regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      l AS (
        SELECT doc_id,
          list_concat(list_concat(
            CASE WHEN doc_id % 5 = 0
              THEN ['aceite os cookies para continuar']
              ELSE CAST([] AS VARCHAR[]) END,
            list_transform(
              generate_series(1, CAST(CEIL(len(toks) / 10.0) AS INT)),
              i -> array_to_string(toks[(i - 1) * 10 + 1 : i * 10], ' '))),
            CASE WHEN doc_id % 3 = 0
              THEN ['fonte ' || source]
              ELSE CAST([] AS VARCHAR[]) END) AS lines
        FROM d),
      e AS (
        SELECT doc_id, CAST(t.i AS BIGINT) AS pos, lines[t.i] AS line
        FROM l, UNNEST(generate_series(1, len(lines))) AS t(i)),
      bp AS (
        SELECT line FROM e GROUP BY line
        HAVING COUNT(DISTINCT doc_id) >= 3),
      k AS (
        SELECT doc_id, pos, line FROM e
        WHERE line NOT IN (SELECT line FROM bp)),
      agg AS (
        SELECT doc_id, COUNT(*) AS n_kept,
          string_agg(line, chr(10) ORDER BY pos) AS text_kept
        FROM k GROUP BY 1)
      SELECT l.doc_id, CAST(len(l.lines) AS BIGINT) AS n_lines,
        COALESCE(a.n_kept, 0) AS n_kept,
        COALESCE(a.text_kept, '') AS text_kept
      FROM l LEFT JOIN agg a USING (doc_id)
      ORDER BY l.doc_id"""))

  def qs: Seq[Q] = Seq(d01, d02, d03, d04, d05, d06, d07, d08, d09, d10,
    d11, d12, d13, d14, d15, d16, d17, d18, d19, d20, d21, d22)
}
