package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions => G}
import graft.store.Skipping

/** Document deduplication pipelines for the training-data use case.
  * Every variant is bucket-based — candidates only ever meet inside a
  * (band, band-hash) group, so the work is O(n) + bucket-local compare,
  * never an all-pairs product. That invariant is what makes these run
  * on 100 TB: the shuffles are key-sized (one 64-bit fingerprint or a
  * band hash), and skewed buckets are bounded by the band width.
  *
  * Reference capability: agrobr has only content-hash dedup
  * (`models.py:177-186`); MinHash/SimHash banding follows the published
  * algorithms (Broder 1997; Charikar 2002; Leskovec et al., MMDS ch.3).
  */
object Dedup {

  /** Exact duplicates under whitespace/case canonicalization: one
    * hash-groupBy on a 64-bit fingerprint of the normalized text.
    */
  def exactDupClusters(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    df.select(idCol.as("doc_id"), G.hash64(G.normalizeWs(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_docs"),
        array_join(array_sort(collect_list(col("doc_id"))), ",").as("doc_ids"))
      .filter(col("n_docs") > 1)
      .drop("fp")
  }

  /** The MinHash signature table `(doc_id, sig)` — the expensive stage
    * of the LSH pipeline, split out so callers choose how to
    * materialize it (cache for a one-shot job, a persisted parquet
    * table for the 100 TB shape — see [[persistedMinhashSignatures]]).
    */
  def minhashSignatures(
      df: DataFrame, idCol: Column, textCol: Column,
      shingleSize: Int = 3, numHashes: Int = 64): DataFrame =
    // no fanOut: the signature frame is cached/persisted by every caller,
    // so the warm path pays only the exchange — measured a net loss
    // (solo d02 0.59 -> 0.80 s with it; the cold kernel cost it would
    // parallelize is amortized away by the cache)
    df.select(idCol.as("doc_id"),
      G.minhashSig(textCol, shingleSize, numHashes).as("sig"))

  /** Write the signature table as parquet and read it back: signatures
    * are computed EXACTLY once, survive the job, and downstream stages
    * (band explode + two verify-join sides) scan a columnar table
    * instead of recomputing or pinning executor memory. At real scale
    * this also makes the signature table shareable across dedup runs.
    */
  def persistedMinhashSignatures(
      df: DataFrame, idCol: Column, textCol: Column, path: String,
      shingleSize: Int = 3, numHashes: Int = 64): DataFrame = {
    minhashSignatures(df, idCol, textCol, shingleSize, numHashes)
      .write.mode("overwrite").parquet(path)
    Skipping.readParquet(df.sparkSession, path)
  }

  /** MinHash-LSH candidate pairs from a signature table: `bands`
    * band-hashes → explode → groupBy(band, hash) → within-bucket
    * self-join. The estimated Jaccard similarity (fraction of agreeing
    * signature positions) is computed per candidate pair and
    * thresholded. `sigs` must be materialized (cached or persisted) —
    * it is read three times.
    */
  def minhashLshPairsFromSigs(
      sigs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      minSim: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"), xxhash64(slice(col("sig"), b * r + 1, r)).as("bh"))
    }
    val exploded = sigs.select(col("doc_id"),
      explode(array(bandCols: _*)).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.bh"))

    // candidate ids only through the dedup shuffle — signatures rejoin
    // AFTER distinct so the wide arrays never ride the pair shuffle
    val candidates = exploded.select(col("band"), col("bh"), col("doc_id").as("id1"))
      .join(exploded.select(col("band"), col("bh"), col("doc_id").as("id2")),
        Seq("band", "bh"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .distinct()

    candidates
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("sig1")), Seq("id1"))
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("sig2")), Seq("id2"))
      .withColumn("est_sim",
        size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => when(x === y, 1)),
          c => c.isNotNull)).cast("double") / numHashes)
      .filter(col("est_sim") >= minSim)
      .select(col("id1"), col("id2"), col("est_sim"))
  }

  /** One-shot MinHash-LSH: signatures cached in memory (small/medium
    * corpora; for the persisted 100 TB shape build the signature table
    * with [[persistedMinhashSignatures]] and call
    * [[minhashLshPairsFromSigs]]).
    */
  def minhashLshPairs(
      df: DataFrame, idCol: Column, textCol: Column,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      minSim: Double = 0.5): DataFrame = {
    val sigs = cacheOnce(minhashSignatures(df, idCol, textCol, shingleSize, numHashes))
    // materialization barrier: the first two consumers are the two sides
    // of the band-bucket self-join, which AQE launches CONCURRENTLY —
    // both race to compute the uncached partitions (duplicate work + the
    // BlockManager "already exists" WARN). The count materializes the
    // cache once; do not "optimize" it away. It is free when warm (it
    // fronts the materialization the first consumer pays anyway):
    // interleaved solo A/B read 0.72-0.82 s with it, 0.80-0.85 s and
    // two WARNs without, 0.85-1.07 s with fanOut before cacheOnce.
    sigs.count()
    minhashLshPairsFromSigs(sigs, numHashes, bands, minSim)
  }

  /** SimHash near-dup pairs: 64-bit sketch cut into `bands` chunks
    * (pigeonhole: hamming ≤ bands-1 ⇒ some chunk equal), bucket join on
    * the equal chunk, verify with bit_count(xor) ≤ maxHamming.
    */
  def simhashPairs(
      df: DataFrame, idCol: Column, textCol: Column,
      bands: Int = 4, maxHamming: Int = 3): DataFrame =
    hammingPairsFromSketch(
      // fanOut: simhash64 (token hash + 64 weighted bit sums per doc)
      // on one scan task otherwise
      fanOut(df).select(idCol.as("doc_id"), G.simhash64(textCol).as("sim")),
      col("doc_id"), col("sim"), bands, maxHamming)

  /** The banded hamming self-join over any precomputed 64-bit sketch
    * column (text SimHash, media perceptual hash, …) — pigeonhole
    * blocking: hamming ≤ bands-1 guarantees some band chunk equal, so
    * the bucket join is EXACT for maxHamming ≤ bands-1 (d10/m05's
    * configs; DedupSketchSpec asserts the equality) and a documented
    * recall heuristic above it (d03's maxHamming=6 at 4 bands); the
    * verify is one bit_count(xor). Only (id, long) pairs ride the
    * shuffle.
    */
  def hammingPairsFromSketch(
      sketches: DataFrame, idCol: Column, sketchCol: Column,
      bands: Int, maxHamming: Int): DataFrame = {
    val width = 64 / bands
    val mask = (1L << width) - 1
    val sk = sketches.select(idCol.as("doc_id"), sketchCol.as("sim"))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sim"), b * width).bitwiseAND(lit(mask)).as("chunk"))
    }
    val exploded = cacheOnce(sk.select(col("doc_id"), col("sim"),
      explode(array(bandCols: _*)).as("e"))
      .select(col("doc_id"), col("sim"), col("e.band"), col("e.chunk"))
    ) // sketch computed once, read by both self-join sides
    val a = exploded.select(col("band"), col("chunk"),
      col("doc_id").as("id1"), col("sim").as("sim1"))
    val b = exploded.select(col("band"), col("chunk"),
      col("doc_id").as("id2"), col("sim").as("sim2"))
    a.join(b, Seq("band", "chunk"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("sim1").bitwiseXOR(col("sim2"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact word-shingle Jaccard — builtin-only (sequence/transform/
    * array_intersect): used to re-rank/verify candidate pairs, never on
    * all pairs.
    */
  def shingles(textCol: Column, k: Int): Column = {
    val toks = split(G.normalizeWs(textCol), " ")
    when(size(toks) < k, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k))))))
  }

  /** CHARACTER k-gram shingles — the CJK-capable sibling of the word
    * [[shingles]]: unspaced scripts (zh here) tokenize to whole
    * sentences under a whitespace split, making word shingles useless
    * for dedup; character windows restore granularity. Normalization
    * (lower + whitespace collapse) matches the word path; the `when`
    * guard keeps `sequence` from inferring a NEGATIVE step on
    * too-short strings (sequence(1, 0) yields [1, 0], not empty).
    */
  def charShingles(textCol: Column, k: Int): Column = {
    val norm = lower(G.normalizeWs(textCol))
    when(length(norm) < k, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(norm) - (k - 1)),
        i => norm.substr(i, lit(k)))))
  }

  /** [[ngramJaccardPairs]] over character k-grams (CJK corpora). */
  def charNgramJaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
      k: Int = 5, tau: Double = 0.6): DataFrame =
    ppJoin(df.select(idCol.as("doc_id"), textCol.as("text"))
      .withColumn("side", lit(0)), k, tau, cross = false,
      shingler = charShingles(_, k))

  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, 0.0)
      .otherwise(size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)).cast("double"))

  /** Exact n-gram Jaccard similarity join — the EXACT sibling of the
    * MinHash pipeline: every pair with shingle-Jaccard >= tau, no
    * sketch error, still never all-pairs. Prefix filtering (the
    * SSJoin/PPJoin family — Chaudhuri et al. ICDE'06, Xiao et al.
    * WWW'08): under a global rarest-first token order, a pair with
    * J >= tau must share a token among each side's first
    * `n - ceil(tau*n) + 1` tokens, so the inverted index is built on
    * prefixes only and the candidate join meets inside per-token
    * buckets whose size the df-ordering keeps small. A length filter
    * (`tau*|A| <= |B| <= |A|/tau`) prunes inside the bucket; exact
    * Jaccard on the full shingle sets is computed for candidates only.
    * Both filters are pruning-only (epsilon-slackened ceil), so the
    * output is exactly the brute-force answer — DuckDB-oracle-checked
    * end to end (d06).
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: Column, textCol: Column,
      k: Int = 3, tau: Double = 0.6): DataFrame =
    ngramJaccardPairsTracked(df, idCol, textCol, k, tau)._1

  /** [[ngramJaccardPairs]] plus the frames it cached, so an always-on
    * caller (the streaming curation sink) can release exactly those
    * after the batch materializes instead of clearing the shared
    * session cache out from under co-resident workloads.
    */
  private[graft] def ngramJaccardPairsTracked(
      df: DataFrame, idCol: Column, textCol: Column,
      k: Int = 3, tau: Double = 0.6): (DataFrame, Seq[DataFrame]) =
    ppJoinTracked(df.select(idCol.as("doc_id"), textCol.as("text"))
      .withColumn("side", lit(0)), k, tau, cross = false)

  /** The INCREMENTAL shape of [[ngramJaccardPairs]]: a new `batch`
    * similarity-joined against an existing `corpus` (daily-drop dedup
    * against yesterday's table — the common production case, where
    * re-running the all-pairs self-join over corpus+batch would redo
    * corpus×corpus work that was already done on the last drop). Same
    * prefix index and PPJoin filters; the candidate join simply keeps
    * only cross-side meetings, so corpus-corpus buckets never expand.
    * Ids must be distinct across the two sides. Returns
    * (id1=corpus, id2=batch, jacc) — exact, like d06. At 100 TB the
    * corpus half of the prefix index is a persisted table maintained
    * by MERGE (d05's signature-table stance).
    */
  def ngramJaccardJoin(
      corpus: DataFrame, batch: DataFrame, idCol: Column, textCol: Column,
      k: Int = 3, tau: Double = 0.6): DataFrame =
    ngramJaccardJoinTracked(corpus, batch, idCol, textCol, k, tau)._1

  /** [[ngramJaccardJoin]] with its cached frames — see
    * [[ngramJaccardPairsTracked]].
    */
  private[graft] def ngramJaccardJoinTracked(
      corpus: DataFrame, batch: DataFrame, idCol: Column, textCol: Column,
      k: Int = 3, tau: Double = 0.6): (DataFrame, Seq[DataFrame]) =
    ppJoinTracked(
      corpus.select(idCol.as("doc_id"), textCol.as("text")).withColumn("side", lit(0))
        .unionByName(
          batch.select(idCol.as("doc_id"), textCol.as("text")).withColumn("side", lit(1))),
      k, tau, cross = true)

  /** ASYMMETRIC containment join — |sh(small) ∩ sh(big)| / |sh(small)|
    * ≥ tau: finds probes quoted/excerpted INSIDE corpus documents,
    * which symmetric Jaccard misses completely (a 15-token excerpt of
    * a 100-token doc has J ≈ 0.13 but containment 1.0). Two regimes,
    * the same switchover [[graft.ops.Curation.decontaminateBloom]]
    * makes over its broadcast sibling:
    *  - default (probe side small by contract — a batch of suspected
    *    excerpts, an eval set): probe shingles broadcast, corpus
    *    shingles stream map-side through the hash join, only
    *    co-occurring (probe, doc) pairs reach the count shuffle;
    *  - `bloomGate = true` (the probe set outgrows the broadcast
    *    threshold): corpus shingles pass a lazy [[Bloom.gate]] over the
    *    probe shingles, and the exact shuffle join over the survivors
    *    removes every false positive. The result equals the broadcast
    *    path (d18 runs under d14's oracle; BloomSemDedupSpec asserts
    *    path equality).
    * Exact either way — every shared shingle counts, so the oracle
    * brute-force matches (d14).
    */
  def containmentJoin(corpus: DataFrame, probes: DataFrame, idCol: Column,
      textCol: Column, k: Int = 3, tau: Double = 0.8,
      bloomGate: Boolean = false): DataFrame = {
    // corpus side fans out first: the shingle transform + explode is
    // the heavy per-row kernel and the scan is one unsplittable task
    val c = fanOut(corpus).select(idCol.as("id_big"),
        explode(transform(shingles(textCol, k), x => xxhash64(x))).as("h"))
    val pFlat = probes.select(idCol.as("id_small"),
        transform(shingles(textCol, k), x => xxhash64(x)).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id_small"), size(col("sh")).as("n_small"),
        explode(col("sh")).as("h"))
    val hits =
      if (bloomGate) Bloom.gate(c, "h", pFlat, "h").join(pFlat, Seq("h"))
      else c.join(broadcast(pFlat), Seq("h"))
    hits
      .filter(col("id_big") =!= col("id_small"))
      .groupBy(col("id_small"), col("id_big"), col("n_small"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= ceil(lit(tau) * col("n_small") - lit(1e-9)))
      .select(col("id_small"), col("id_big"), col("shared"),
        round(col("shared").cast("double") / col("n_small"), 4).as("containment"))
  }

  private def ppJoin(tagged: DataFrame, k: Int, tau: Double,
      cross: Boolean, shingler: Column => Column = null): DataFrame =
    ppJoinTracked(tagged, k, tau, cross, shingler)._1

  /** [[ppJoin]] returning (result, frames it cached). */
  private def ppJoinTracked(tagged: DataFrame, k: Int, tau: Double,
      cross: Boolean, shingler: Column => Column = null): (DataFrame, Seq[DataFrame]) = {
    val makeShingles: Column => Column =
      if (shingler != null) shingler else shingles(_, k)
    // ceil(tau*n) with FP slack: an over-ceil would shrink the prefix /
    // tighten the length filter and could drop a boundary pair
    def ceilTau(n: Column): Column = ceil(lit(tau) * n - lit(1e-9))
    // required overlap for J >= tau: α = ⌈τ/(1+τ)·(n1+n2)⌉ (same slack)
    def alpha(n1: Column, n2: Column): Column =
      ceil(lit(tau / (1 + tau)) * (n1 + n2) - lit(1e-9))
    // shingles are 64-bit-hashed up front: the inverted index, the
    // candidate shuffle and the verify arrays carry longs, never the
    // shingle strings (set cardinalities — and therefore Jaccard — are
    // unchanged barring a 64-bit collision, which the DuckDB oracle
    // comparison would surface, same stance as d01)
    // fanOut BEFORE the shingler: documents arrive as one unsplittable
    // scan task, and shingling (normalize + split + k-window + hash per
    // token) is the pipeline's dominant per-row CPU — serialized on one
    // core without it. The cached frame inherits the parallel layout,
    // so the prefix-index explode and both verify sides scale too.
    val docs = cacheOnce(fanOut(tagged).select(col("doc_id"), col("side"),
        transform(makeShingles(col("text")), x => xxhash64(x)).as("sh"))
      .filter(size(col("sh")) > 0)
    ) // read by the prefix index and both verify-join sides
    val toks = docs.select(col("doc_id"), col("side"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
    // global token order: rarest first (document frequency asc, token
    // asc). Any total order is correct; rarest-first makes the indexed
    // prefixes the LEAST shared tokens, minimizing bucket fan-out.
    val tokenDf = toks.groupBy(col("s")).agg(count(lit(1)).as("tdf"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("tdf"), col("s"))
    val prefix = cacheOnce(toks.join(tokenDf, Seq("s"))
      .withColumn("pos", row_number().over(byRarity))
      .filter(col("pos") <= col("n") - ceilTau(col("n")) + 1)
      .select(col("s"), col("doc_id"), col("side"), col("n"), col("pos")))
    // materialization barrier (same race as minhashLshPairs: the two
    // candidate self-join sides below are AQE-concurrent first readers
    // of the uncached prefix — duplicate-block WARNs observed in a full
    // Verify run). Interleaved solo A/B: neutral within noise
    // (d06 0.60-0.91 vs 0.71-0.91, d08 1.56-1.75 vs 1.51-2.01,
    // d10 0.54-0.67 vs 0.59-0.74), so the race retirement is free.
    prefix.count()
    // Cached: uncached, both self-join sides redo the tokenDf join and
    // the per-doc rarity window, while the cache pays one
    // materialization (interleaved solo: d06 1.95->0.98, d08 2.97->1.94,
    // d10 2.81->0.82 s). Storage is bounded: prefixes are the pruned
    // ~(1-tau) fraction of the shingle inventory, MEMORY_AND_DISK
    // evicts under pressure, and the frame rides the tracked-release
    // list below so the streaming caller frees it per batch.

    // positional filter (PPJoin, Xiao et al. WWW'08): a meeting at
    // prefix positions (i, j) bounds the pair's overlap by
    // 1 + min(n1-i, n2-j) — all further shared tokens sit after i and
    // after j under the shared global order. A pair with J >= tau
    // always survives via its FIRST shared prefix token (where the
    // bound is loosest), so this prunes candidate GENERATION without
    // losing a single true pair. Measured on sf0.1: candidates
    // 223k -> 78k for the identical 750-pair answer.
    val pairShape =
      if (cross) col("side1") === 0 && col("side2") === 1
      else col("id1") < col("id2")
    val cand = prefix.select(col("s"), col("doc_id").as("id1"),
        col("side").as("side1"), col("n").as("n1"), col("pos").as("pos1"))
      .join(prefix.select(col("s"), col("doc_id").as("id2"),
        col("side").as("side2"), col("n").as("n2"), col("pos").as("pos2")), Seq("s"))
      .filter(pairShape &&
        col("n2") >= ceilTau(col("n1")) && col("n1") >= ceilTau(col("n2")) &&
        lit(1) + least(col("n1") - col("pos1"), col("n2") - col("pos2")) >=
          alpha(col("n1"), col("n2")))
      .select(col("id1"), col("id2"))
      .distinct()
    // verify with one set op: J = c / (n1 + n2 - c) — array_union's
    // second hash-set build per row is pure overhead when the sizes
    // are already known (shingle sets are distinct by construction)
    val out = cand
      .join(docs.select(col("doc_id").as("id1"), col("sh").as("sh1")), Seq("id1"))
      .join(docs.select(col("doc_id").as("id2"), col("sh").as("sh2")), Seq("id2"))
      .withColumn("c", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
      .select(col("id1"), col("id2"),
        (col("c") / (size(col("sh1")) + size(col("sh2")) - col("c"))).as("jacc"))
      .filter(col("jacc") >= tau)
    (out, Seq(docs, prefix))
  }
}
