package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.util.sketch.BloomFilter
import graft.store.TxStore

/** Structured Streaming shapes for the `events` stream: the streaming
  * twins of the batch queries q35 (tumbling window) and q36
  * (sessionization). Transforms take any DataFrame with
  * (event_id, ts, user_id, event_type, value) — batch or streaming —
  * so the same logic is testable via MemoryStream and runnable as a
  * readStream pipeline.
  *
  * Reference note: agrobr has no true streams (SURVEY §1.1); its
  * incremental cache refresh is an append batch. These operators are
  * the scale path for continuous ingestion.
  */
object Streaming {

  /** Tumbling 6h window counts with a 1h watermark — on a stream this
    * emits finalized windows (append mode) once the watermark passes.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .select(col("w.start").as("bucket_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming OHLC bars — q67's streaming twin: per (event-time
    * window, event_type) open/high/low/close/volume as ONE windowed
    * aggregation. Open/close are min/max over (epoch-µs, event_id,
    * value) structs — the same deterministic lexicographic-extreme
    * trick as the batch query, and crucially an ALGEBRAIC aggregate,
    * so late rows inside the watermark fold into the live bar with
    * plain partial aggregation (no sort, no per-bar state beyond two
    * structs + three scalars). Bars finalize when the watermark passes
    * the window end — the candle-feed every price dashboard tails.
    */
  def ohlcStream(events: DataFrame, barWidth: String = "6 hours",
      lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .withColumn("tu", unix_micros(col("ts").cast("timestamp")))
      .groupBy(window(col("ts"), barWidth).as("w"), col("event_type"))
      .agg(
        min(struct(col("tu"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("tu"), col("event_id"), col("value")))
          .getField("value").as("close"),
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("volume"))
      .select(col("w.start").as("bar_start"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"),
        col("n"), col("volume"))

  /** Streaming exact dedup — the streaming twin of the batch dedup
    * family (P7/d01): duplicate keys arriving within the watermark
    * horizon are dropped, and the dedup state expires WITH the
    * watermark, so state is bounded by keys-per-horizon rather than
    * growing with the stream (the property that keeps this runnable
    * forever on a 100 TB/day feed).
    */
  def dedupStream(events: DataFrame, horizon: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment: broadcast dim join on a stream — the
    * at-ingest lookup shape (UF/crop/município dims against a live
    * event feed). The static side is planned per microbatch, so a dim
    * refresh is picked up without restarting the stream; broadcast
    * keeps the stream side shuffle-free.
    */
  def enrich(events: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    events.join(broadcast(dim), keys, "left")

  /** Continuous ingestion into the transactional fact store: each
    * microbatch MERGEs via [[graft.store.TxStore.commitBatch]] —
    * all-or-nothing per batch, replay-safe across restarts (batch-id
    * high-water mark), every batch a time-travelable version. The
    * reference's incremental cache refresh (`cache/duckdb_store.py`
    * upsert loop), re-expressed as a restartable stream.
    */
  def upsertSink(events: DataFrame, root: String, pk: Seq[String],
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val commit: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, id) => {
        TxStore.commitBatch(batch.sparkSession, root,
          batch.toDF(), pk, id)
        ()
      }
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(commit)
      .start()
  }

  // ---- curation gram-bloom gate (persisted beside the corpus) ----

  private[graft] def curationBloomPath(root: String) = root + "_grambloom"

  /** Estimated-FP ceiling that triggers gram-bloom regeneration (the
    * gate stays correct at ANY FP rate — this bounds the wasted-suspect
    * tail, not correctness).
    */
  private[graft] val CurationBloomMaxFp = 0.03

  /** Admission-write sizing for the append sinks: one part file per
    * `rowsPerFile` admitted rows, capped at the session's parallelism.
    * A steady stream's small batches still land as ONE file per
    * microbatch (file count ∝ batches, [[graft.store.TxStore
    * .commitCompaction]] owns long-run hygiene), while a BURST batch
    * fans its write across tasks instead of funnelling through one.
    * `df` must be cached — the count that sizes the coalesce is also
    * the materialization.
    */
  private def admissionPartitions(df: DataFrame, rowsPerFile: Int): Int = {
    val n = df.count()
    val cap = math.max(1, df.sparkSession.sparkContext.defaultParallelism)
    math.min(cap.toLong, math.max(1L, (n + rowsPerFile - 1) / rowsPerFile)).toInt
  }

  /** Resizes an admission frame to exactly [[admissionPartitions]]'s
    * target write tasks: coalesce when shrinking (no shuffle — the
    * steady-stream path), a round-robin repartition when the frame
    * arrived in FEWER partitions than the target — coalesce can only
    * reduce, so a burst batch whose upstream plan happened to collapse
    * into few partitions would otherwise funnel through them and defeat
    * the rowsPerFile sizing. `df` must be cached (admissionPartitions'
    * count is the materialization barrier), so getNumPartitions and the
    * possible shuffle both read the materialized blocks, not the plan.
    */
  private def sizedForWrite(df: DataFrame, nParts: Int): DataFrame = {
    val current = df.rdd.getNumPartitions
    if (current > nParts) df.coalesce(nParts)
    else if (current < nParts) df.repartition(nParts)
    else df
  }

  /** Bits per expected gram: `BloomFilter.optimalNumOfBits` gives ≈ 9.6
    * at a 1% false-positive rate, rounded up. Every gram bloom's
    * expected-item count is its bit size over this, so the bit size is
    * the one geometry a filter carries, and two filters of one size
    * built in one session merge.
    */
  private val BitsPerGram = 10L

  /** The bloom of `grams`' column `g` at `bits` bits ([[graft.ops.Bloom
    * .collect]]); None when there are no grams.
    */
  private[graft] def gramBloom(grams: DataFrame, bits: Long): Option[BloomFilter] =
    graft.ops.Bloom.collect(grams, col("g"), math.max(1L, bits / BitsPerGram), bits)

  /** Atomic persist of the maintained gram bloom in Spark's own format
    * ([[graft.store.TxStore.writeAtomic]]).
    */
  private[graft] def saveGramBloom(path: String, f: BloomFilter): Unit = {
    val bytes = new java.io.ByteArrayOutputStream()
    f.writeTo(bytes)
    TxStore.writeAtomic(java.nio.file.Paths.get(path), bytes.toByteArray)
  }

  /** The persisted gram bloom; a missing file or one that fails to read
    * (truncated, an older format) is absent, and the sink rebuilds it
    * from the corpus.
    */
  private[graft] def loadGramBloom(path: String): Option[BloomFilter] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) None
    else scala.util.Try(BloomFilter.readFrom(java.nio.file.Files.readAllBytes(p))).toOption
  }

  /** TRUE iff a batch doc could have word-shingle Jaccard ≥ tau against
    * SOME corpus document, judged from the corpus gram bloom alone:
    * J(A,B) = |A∩B|/|A∪B| ≤ |A∩B|/|A| ≤ bloomHits(A)/|A| whenever the
    * bloom covers every corpus gram (no false negatives), so
    * hits < tau·|A| proves J < tau against the ENTIRE corpus and the
    * doc is safely novel with no corpus join at all. Bloom false
    * positives only inflate `hits` — more suspects, never a wrong
    * admission — so the gate is pruning-only, like every PPJoin filter.
    * The ε-slack keeps the integer boundary (hits = tau·|A| exactly)
    * on the suspect side.
    */
  private[graft] def curationSuspect(bloom: BloomFilter,
      textCol: org.apache.spark.sql.Column, k: Int, tau: Double)
      : org.apache.spark.sql.Column = {
    // shingling stays native/codegen; only the per-gram bit test rides
    // in a deterministic Scala UDF closing over the word table — an
    // expression inside an interpreted HOF lambda is evaluated per
    // element (measured 9.4 s against 0.35 s per 50-doc gate).
    // Closure cost is one 2 MiB task-binary per batch job.
    val f = bloom
    val gate = udf { grams: Seq[String] =>
      val n = grams.size
      n > 0 && grams.count(f.mightContainString) >= tau * n - 1e-9
    }
    gate(graft.ops.Dedup.shingles(textCol, k))
  }

  /** Continuous corpus curation: each microbatch of documents is
    * exact-similarity-joined against the PERSISTED corpus
    * ([[graft.ops.Dedup.ngramJaccardJoin]] — the d09 incremental shape)
    * AND against itself (within-batch dups), and only novel documents
    * are MERGE-committed — the corpus table never admits a near-dup,
    * every admission is a time-travelable TxStore version, and replays
    * are dropped by the batch-id high-water mark.
    *
    * Per-batch cost is kept independent of corpus size by a maintained
    * GRAM BLOOM over the corpus's word shingles (Spark's `BloomFilter`,
    * persisted beside the table; each admission batch's filter is merged
    * in — bit-or is monotone and idempotent, so maintenance is
    * replay-safe by algebra): docs whose bloom-hit fraction stays below
    * tau are provably below the similarity threshold against every
    * corpus doc ([[curationSuspect]]) and skip the corpus join outright,
    * so a mostly-novel stream never re-shingles the corpus (measured:
    * ungated batch cost grew ×2.1 over a 15k-doc corpus hop; gated is
    * flat). Only suspect docs — true near-dups plus the bloom's ~1%
    * false-positive tail — pay the exact
    * [[graft.ops.Dedup.ngramJaccardJoinTracked]] confirm, which removes
    * every false positive, so admissions are EXACTLY the ungated sink's.
    * Crash ordering: the bloom is persisted BEFORE the table commit, so
    * it is always a superset of the corpus's grams (an over-full bloom
    * only costs extra suspects; an under-full one could admit a
    * near-dup). A missing or unreadable bloom is rebuilt from the corpus
    * in one scan at sink start.
    *
    * First batch initializes the table (self-dedup only). Within-batch
    * duplicate pairs keep the LOWEST id (deterministic canonical).
    *
    * SATURATION: a filter's bit size is fixed (bit positions depend on
    * it), but the sink's is not. When the merged filter's expected FP
    * rate (fill^k) crosses [[CurationBloomMaxFp]], or the held filter
    * cannot merge the batch's (it was built under other conf caps), the
    * bloom is REGENERATED at `BloomFilter.optimalNumOfBits(n, 0.01)` for
    * the n distinct grams of corpus ∪ this batch's admissions, in one
    * scan of them — so the persisted filter is still a superset of the
    * committed corpus's grams. The session's
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` caps the size;
    * a filter at the cap only grows hotter. Admissions are unaffected by
    * WHEN regen fires: the gate is pruning-only. `bloomBits` is the
    * INITIAL size (2 MiB, ~1% FP up to ~1.7M distinct grams); tests
    * drive saturation with a tiny one.
    */
  def curationSink(docs: DataFrame, root: String, tau: Double,
      checkpoint: String, bloomBits: Long = 1L << 24,
      rowsPerFile: Int = 100000)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val shingleK = 3
    def grams(df: DataFrame): DataFrame =
      df.select(explode(graft.ops.Dedup.shingles(col("text"), shingleK)).as("g"))
    // the held bloom rides in the sink closure between batches; loaded
    // (or rebuilt from the corpus) on the first batch so a restarted
    // sink recovers the persisted filter. None: no corpus gram yet
    var bloom: Option[BloomFilter] = None
    var loaded = false
    val commit: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, id) => {
        val spark = batch.sparkSession
        val b = batch.toDF()
        if (!b.isEmpty) {
          // within-batch dedup: drop the higher id of every dup pair
          val (selfPairs, selfCached) = graft.ops.Dedup
            .ngramJaccardPairsTracked(b, col("doc_id"), col("text"),
              k = shingleK, tau = tau)
          val selfDups = selfPairs.select(col("id2").as("doc_id")).distinct()
          val selfClean = b.join(selfDups, Seq("doc_id"), "left_anti").cache()
          val hasCorpus = TxStore.currentVersion(root).isDefined
          if (!loaded) {
            bloom = loadGramBloom(curationBloomPath(root)).orElse(
              if (hasCorpus) gramBloom(grams(TxStore.read(spark, root)), bloomBits) else None)
            loaded = true
          }
          val suspects = bloom.filter(_ => hasCorpus).map(f =>
            selfClean.filter(curationSuspect(f, col("text"), shingleK, tau)))
          val (novel, crossCached) = suspects.filterNot(_.isEmpty) match {
            case None => (selfClean, Seq.empty[DataFrame])
            case Some(s) =>
              val (crossPairs, cached) = graft.ops.Dedup.ngramJaccardJoinTracked(
                TxStore.read(spark, root), s, col("doc_id"), col("text"),
                k = shingleK, tau = tau)
              val dupIds = crossPairs.select(col("id2").as("doc_id")).distinct()
              (selfClean.join(dupIds, Seq("doc_id"), "left_anti"), cached)
          }
          // rows-per-file-bounded write: one part file per steady batch
          // (file count ∝ batches, not ∝ batches × tasks), multiple
          // tasks for a burst batch instead of a single-task funnel
          val novelCached = novel.cache()
          val nParts = admissionPartitions(novelCached, rowsPerFile)
          // bloom BEFORE table: the superset invariant must survive a
          // crash between the two writes (see Scaladoc)
          val fresh = gramBloom(grams(novelCached), bloom.fold(bloomBits)(_.bitSize()))
          val merged = bloom.fold(fresh)(h => fresh.fold(Option(h))(f =>
            if (h.isCompatible(f)) Some(h.mergeInPlace(f)) else None))
          // regenerate when the held filter could not take the batch's
          // (merged = None), or when the merged one is too full and
          // still below the cap
          val cap = spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
          val regenerate = merged.fold(bloom.isDefined)(f =>
            f.expectedFpp() > CurationBloomMaxFp && f.bitSize() < cap)
          bloom =
            if (!regenerate) merged
            else {
              val all =
                if (hasCorpus) grams(TxStore.read(spark, root)).union(grams(novelCached))
                else grams(novelCached)
              val n = all.distinct().count()
              val bits = BloomFilter.optimalNumOfBits(math.max(1L, n), 0.01)
              if (bits > cap) org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"gram bloom capped at $cap bits (spark.sql.optimizer.runtime." +
                  s"bloomFilter.maxNumBits) where $n grams want $bits for 1% FP; " +
                  "admissions stay exact, with more suspects per batch")
              gramBloom(all, math.min(bits, cap))
            }
          bloom.foreach(saveGramBloom(curationBloomPath(root), _))
          // admissions are proven-novel doc_ids — the insert-only
          // contract commitBatchAppend needs for its O(batch) commit
          TxStore.commitBatchAppend(spark, root, sizedForWrite(novelCached, nParts), id)
          // the similarity joins cache their shingle frames for the
          // duration of the batch; an always-on sink must release
          // EXACTLY those — a session-wide clearCache would evict
          // co-resident workloads' cached state too
          (selfCached ++ crossCached :+ selfClean :+ novelCached)
            .foreach(_.unpersist())
        }
        ()
      }
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(commit)
      .start()
  }

  /** Streaming-ingest DECONTAMINATION ([[curationSink]]'s sibling for
    * benchmark leakage): every microbatch's documents are gated
    * against a STATIC held-out benchmark before admission — a doc
    * sharing any verbatim n-gram with the benchmark never enters the
    * corpus. The benchmark filter is built ONCE at sink creation: one
    * [[graft.ops.Bloom.filterAgg]] evaluated with `head()`, then probed
    * per batch as a literal, so only the grams it admits (true hits
    * and false positives) reach the exact gram join that removes the
    * false positives — d16's shape, run forever. Admissions are
    * TxStore commits with the batch-id high-water mark, so replays are
    * dropped and readers see a versioned, time-travelable clean corpus.
    */
  def decontaminationSink(docs: DataFrame, bench: DataFrame, root: String,
      n: Int, checkpoint: String, rowsPerFile: Int = 100000)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val benchGrams = graft.ops.Curation
      .wordGramPositions(bench, "doc_id", "text", n)
      .select(col("g")).distinct()
    val filter = lit(benchGrams.select(graft.ops.Bloom.filterAgg(col("g"))).head().get(0))
    val commit: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, id) => {
        val b = batch.toDF()
        if (!b.isEmpty) {
          val flagged = graft.ops.Curation
            .wordGramPositions(b, "doc_id", "text", n)
            .filter(graft.ops.Bloom.mightContain(filter, col("g")))
            .join(broadcast(benchGrams), Seq("g"))
            .select(col("doc_id")).distinct()
          // admitted docs are new doc_ids by construction (the stream's
          // id space), so the clean corpus grows by O(batch) appends —
          // rows-per-file-bounded so a burst batch writes in parallel
          val clean = b.join(flagged, Seq("doc_id"), "left_anti").cache()
          try TxStore.commitBatchAppend(batch.sparkSession, root,
            sizedForWrite(clean, admissionPartitions(clean, rowsPerFile)), id)
          finally clean.unpersist()
        }
        ()
      }
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(commit)
      .start()
  }

  /** Continuously-maintained MATERIALIZED VIEW: a streaming
    * aggregation in update mode, each microbatch's changed rows
    * MERGEd into the transactional store by aggregate key. Update-mode
    * rows carry the COMPLETE current aggregate value for every key the
    * batch touched (streaming state owns the partials), so the commit
    * is a plain per-key upsert — no partial-merge arithmetic — and the
    * view is an ACID table readers hit without touching the stream:
    * every refresh a time-travelable version, replays dropped by the
    * batch-id high-water mark. The s07 incremental-maintenance shape,
    * run forever.
    */
  def aggViewSink(agg: DataFrame, root: String, pk: Seq[String],
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val commit: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, id) => {
        TxStore.commitBatch(batch.sparkSession, root,
          batch.toDF(), pk, id)
        ()
      }
    agg.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(commit)
      .start()
  }

  /** One microbatch of the live IVF index: assign under the FIXED
    * persisted quantizer and append to the index's cell partitions —
    * exposed separately so the replay contract is directly testable.
    * Appends are not value-idempotent (unlike MERGE), so replays are
    * dropped by a batch-id high-water mark beside the index; the marker
    * is written after the append, so the crash window between them
    * re-appends one batch (at-least-once). The exactly-once hardening
    * is the TxStore shape — append as a versioned commit with the
    * fence STAGED INSIDE the version so it lands atomically with the
    * pointer flip — now implemented as
    * [[graft.store.TxStore.commitBatchAppend]] (crash gap spec-forced
    * in TxStoreSpec) and used by the curation and decontamination
    * sinks; the raw-directory index keeps the at-least-once contract
    * because its cell partitions have no version pointer to flip.
    */
  private[graft] def ivfAppendBatch(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, cents: Array[Seq[Float]],
      path: String): Boolean = {
    val marker = java.nio.file.Paths.get(path + "_last_batch")
    val last = TxStore.readMarker(marker).getOrElse(-1L)
    if (batchId <= last) false
    else {
      if (!batch.isEmpty)
        graft.ops.VectorSearch.appendToIvfIndex(batch, idCol, vecCol, cents, path)
      TxStore.writeAtomic(marker, batchId.toString)
      true
    }
  }

  /** LIVE ANN index maintenance: each microbatch of (id, vector) rows
    * lands in the persisted cell-partitioned IVF index under the fixed
    * coarse quantizer — the streaming form of "the index absorbs a
    * day's embeddings" ([[graft.ops.VectorSearch.appendToIvfIndex]]'s
    * contract, run forever). Probes over the index see each batch as
    * soon as its append completes; quantizer retraining stays a
    * separate, rarer event (a new index directory swapped in whole).
    */
  def ivfIndexSink(vectors: DataFrame, idCol: String, vecCol: String,
      cents: Array[Seq[Float]], path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val commit: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, id) => {
        ivfAppendBatch(batch.toDF(), id, idCol, vecCol, cents, path)
        ()
      }
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(commit)
      .start()
  }

  /** Versions a streaming sketch table keeps: [[mergeSketches]] expires
    * older ones after every batch, so the table's disk stays bounded
    * however long the stream runs, and a frame read from the table
    * stays readable through `KeepLast - 1` later commits.
    */
  private[graft] val KeepLast = 10

  /** One microbatch of a live sketch table, on the TxStore commit path.
    * A batch at or below [[graft.store.TxStore.lastBatchId]] is dropped
    * (foreachBatch replays re-run the same id). Otherwise `sketch`
    * aggregates the batch per `keyCol`, `merge` folds that into the
    * committed table's `sk` column, and the result commits as a replace
    * whose version carries the batch id, so the fence lands atomically
    * with the state. Versions past [[KeepLast]] are then expired and
    * orphans vacuumed.
    */
  private def mergeSketches(batch: DataFrame, batchId: Long, keyCol: String,
      path: String, sketch: Column, merge: Column => Column): Unit =
    if (!TxStore.lastBatchId(path).exists(batchId <= _) && !batch.isEmpty) {
      val spark = batch.sparkSession
      val bs = batch.groupBy(col(keyCol)).agg(sketch.as("sk"))
      val base = TxStore.currentVersion(path)
      val merged = base.fold(bs)(_ => TxStore.read(spark, path).unionByName(bs)
        .groupBy(col(keyCol)).agg(merge(col("sk")).as("sk")))
      TxStore.commitReplace(spark, path, merged,
        expectedVersion = Some(base.getOrElse(0L)), batchId = Some(batchId))
      TxStore.expireVersions(path, KeepLast)
      TxStore.vacuum(path)
    }

  /** One microbatch of the live HLL sketch table ([[mergeSketches]]).
    * HLL union is commutative, associative and IDEMPOTENT (sketch ∪
    * sketch = sketch, the CRDT property), so even an unfenced replay
    * would leave every estimate unchanged; the fence keeps one commit
    * path for both sketch kinds.
    */
  private[graft] def sketchMergeBatch(batch: DataFrame, batchId: Long,
      keyCol: String, tokenCol: String, path: String, lgK: Int): Unit =
    mergeSketches(batch, batchId, keyCol, path,
      hll_sketch_agg(col(tokenCol), lit(lgK)), hll_union_agg(_, lit(false)))

  /** Live corpus statistics: per-key distinct-token HLL sketches
    * maintained incrementally — each microbatch unions its own sketch
    * into the versioned sketch table (t29's mergeable-summaries law,
    * run forever). The table stays O(keys × 2^lgK) bytes no matter how
    * much data streams through, and by union losslessness the merged
    * state always equals the single-pass sketch of everything seen
    * (asserted live in SketchMergeSpec's streaming test).
    */
  def sketchSink(items: DataFrame, keyCol: String, tokenCol: String,
      path: String, checkpoint: String, lgK: Int = 12)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val commit: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, id) => sketchMergeBatch(batch.toDF(), id, keyCol, tokenCol, path, lgK)
    items.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(commit)
      .start()
  }

  /** One microbatch of the live QUANTILE sketch table ([[mergeSketches]]
    * with [[graft.functions.KllSketchAgg]]/[[graft.functions.KllMergeAgg]]).
    * KLL merge is NOT idempotent — weights ADD, so re-merging a replayed
    * batch would double-count it; the batch-id fence is what makes its
    * statistics exactly-once.
    */
  private[graft] def kllMergeBatch(batch: DataFrame, batchId: Long,
      keyCol: String, valCol: String, path: String, k: Int): Unit =
    mergeSketches(batch, batchId, keyCol, path,
      graft.functions.GraftFunctions.kllSketchAgg(col(valCol).cast("double"), k),
      graft.functions.GraftFunctions.kllMergeAgg(_))

  /** Live rank statistics: per-key KLL quantile sketches maintained
    * incrementally — O(keys × k) state no matter how much data streams
    * through; quantiles read at metadata scale via
    * [[quantileEstimates]]. Replay-safe through batch-id fencing (see
    * [[kllMergeBatch]] — the merge algebra alone is not idempotent).
    */
  def quantileSink(items: DataFrame, keyCol: String, valCol: String,
      path: String, checkpoint: String, k: Int = 2048)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val commit: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, id) => kllMergeBatch(batch.toDF(), id, keyCol, valCol, path, k)
    items.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(commit)
      .start()
  }

  /** Quantiles off the live sketch table — metadata-scale read. */
  def quantileEstimates(spark: org.apache.spark.sql.SparkSession,
      path: String, probs: Seq[Double]): DataFrame =
    if (TxStore.currentVersion(path).isEmpty) spark.emptyDataFrame
    else TxStore.read(spark, path)
      .withColumn("quantiles",
        graft.functions.GraftFunctions.kllSketchQuantiles(col("sk"), probs))
      .drop("sk")

  /** Estimates off the live sketch table — metadata-scale read. */
  def sketchEstimates(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    if (TxStore.currentVersion(path).isEmpty) spark.emptyDataFrame
    else TxStore.read(spark, path)
      .withColumn("est_distinct", hll_sketch_estimate(col("sk")))
      .drop("sk")

  case class HHState(counters: Map[String, Long])
  case class HHOut(bucket: Int, item: String, weight: Long)

  /** Streaming heavy hitters: the streaming form of
    * [[graft.ops.Frequency]] — per-BUCKET Misra-Gries summaries kept in
    * keyed state (items are hash-bucketed so state and work distribute
    * over `buckets` tasks, not one), each trigger emitting the bucket's
    * current surviving candidates with their MG weights (update-style
    * output through flatMapGroupsWithState). Merging all buckets'
    * candidates yields a superset of every item above
    * total/(k·buckets+1) — the same mergeable-summaries guarantee as
    * the batch path, so a batch recount over the candidates makes it
    * exact. State is O(k) per bucket, forever.
    */
  def heavyHittersStream(items: DataFrame, itemCol: String, k: Int,
      buckets: Int = 16): Dataset[HHOut] = {
    import items.sparkSession.implicits._
    items
      .select(col(itemCol).cast("string").as("item"))
      .withColumn("bucket", pmod(xxhash64(col("item")), lit(buckets)).cast("int"))
      .as[(String, Int)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[HHState, HHOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (bucket: Int, rows: Iterator[(String, Int)], state: GroupState[HHState]) =>
          val counters = scala.collection.mutable.HashMap.empty[String, Long]
          state.getOption.foreach(_.counters.foreach { case (i, n) => counters(i) = n })
          rows.foreach { case (x, _) =>
            counters.get(x) match {
              case Some(n) => counters(x) = n + 1
              case None if counters.size < k => counters(x) = 1L
              case None =>
                val dead = List.newBuilder[String]
                counters.mapValuesInPlace((_, n) => n - 1)
                counters.foreach { case (key, n) => if (n == 0) dead += key }
                dead.result().foreach(counters.remove)
            }
          }
          state.update(HHState(counters.toMap))
          counters.iterator.map { case (i, w) => HHOut(bucket, i, w) }
      }
  }

  case class TopKState(rows: List[(Double, Long, String)])
  case class TopKOut(key: Long, rank: Int, ord: Double, tie: Long, payload: String)

  /** Streaming EXACT top-k per key — q60's streaming twin: the keyed
    * state IS a [[graft.functions.TopKBuffer]] snapshot (O(k) per key,
    * forever); each trigger folds the batch's rows in and emits the
    * key's refreshed ranking. Exactness needs no watermark: eviction
    * is permanent by dominance — a row pushed out by k better rows can
    * never re-enter a ranking that only improves — so bounded state
    * loses nothing, ever (contrast [[heavyHittersStream]], whose MG
    * counters are approximate by construction).
    */
  def topKStream(rows: Dataset[(Long, Double, Long, String)], k: Int): Dataset[TopKOut] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[TopKState, TopKOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[(Long, Double, Long, String)],
            state: GroupState[TopKState]) =>
          val buf = new graft.functions.TopKBuffer(k)
          state.getOption.foreach(_.rows.foreach { case (o, t, p) =>
            buf.add(o, t, p)
          })
          it.foreach { case (_, o, t, p) => buf.add(o, t, p) }
          val sorted = buf.sorted.toList
            .map { case (o, t, p) => (o, t, p.asInstanceOf[String]) }
          state.update(TopKState(sorted))
          sorted.zipWithIndex.iterator.map { case ((o, t, p), i) =>
            TopKOut(key, i + 1, o, t, p)
          }
      }
  }

  case class AsofIn(key: Long, ts: Timestamp, side: String, value: Double)
  case class AsofState(builds: List[(Long, Double)], probes: List[(Long, Double)])
  case class AsofOut(key: Long, ts: Timestamp, probe_value: Double,
      build_value: Option[Double])

  /** Streaming as-of join — the streaming twin of
    * [[graft.ops.Temporal.asofJoin]] (q30): both sides arrive as ONE
    * keyed stream tagged `side` ∈ probe|build, and each probe row is
    * answered with the latest build value at or before its timestamp.
    *
    * Correctness under disorder comes from the watermark, not arrival
    * order: a probe is emitted only once the watermark passes its
    * timestamp (no build at or before it can still arrive); until then
    * it is buffered in state. Buffered builds older than the watermark
    * collapse to the single LATEST one — any earlier build can never
    * again be the as-of match for a future probe (future rows carry
    * ts ≥ watermark), which is what bounds state to the watermark
    * horizon per key rather than the stream's history. Quiet keys are
    * garbage-collected one horizon after their last pending work via
    * event-time timeout (a probe arriving later than that for the same
    * key loses its carry-forward — the price of bounded state,
    * identical to the trade every watermarked operator makes).
    *
    * Emission order within a key is by probe timestamp; output mode
    * Append.
    */
  def asofJoinStream(in: Dataset[AsofIn], horizon: String = "1 hour",
      horizonMs: Long = 60 * 60 * 1000L): Dataset[AsofOut] = {
    import in.sparkSession.implicits._
    in.withWatermark("ts", horizon)
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, rows: Iterator[AsofIn], state: GroupState[AsofState]) =>
          val st = state.getOption.getOrElse(AsofState(Nil, Nil))
          val fresh = rows.toSeq
          val builds = st.builds ++
            fresh.filter(_.side == "build").map(r => (r.ts.getTime, r.value))
          val probes = st.probes ++
            fresh.filter(_.side == "probe").map(r => (r.ts.getTime, r.value))
          val wm = state.getCurrentWatermarkMs()
          // a probe strictly below the watermark is final: every build
          // at or before it has arrived
          val (ready, pending) = probes.partition(_._1 < wm)
          val out = ready.sortBy(_._1).map { case (pts, pv) =>
            val eligible = builds.filter(_._1 <= pts)
            val bv = if (eligible.isEmpty) None else Some(eligible.maxBy(_._1)._2)
            AsofOut(key, new Timestamp(pts), pv, bv)
          }
          // evict: of the builds below the watermark only the latest
          // can ever match again (future probes have ts >= wm)
          val (old, recent) = builds.partition(_._1 < wm)
          val kept = (if (old.isEmpty) Nil else List(old.maxBy(_._1))) ++ recent
          if (state.hasTimedOut && pending.isEmpty) {
            state.remove() // quiet-key GC: one horizon past the last work
            out.iterator
          } else if (kept.isEmpty && pending.isEmpty) {
            state.remove()
            out.iterator
          } else {
            state.update(AsofState(kept, pending))
            // wake when the oldest pending probe finalizes, else one
            // horizon out to GC the carry-forward
            val wake = if (pending.nonEmpty) pending.map(_._1).min + 1
              else math.max(wm, kept.map(_._1).max) + horizonMs
            state.setTimeoutTimestamp(wake)
            out.iterator
          }
      }
  }

  /** Native stream-STREAM interval join: each left event paired with
    * the right-side events of the same key inside
    * [left.ts - tolerance, left.ts] — the "recent context" join (a
    * trade against the quotes of the preceding minutes). Built on
    * Spark's own stream-stream inner join: the watermark plus the
    * range condition is exactly what lets the engine evict right-side
    * state older than watermark - tolerance, so state is bounded by
    * key-rate × (horizon + tolerance), not stream history. Inputs are
    * (key, ts, value) frames; output keeps left columns plus the
    * matched (r_ts, r_value).
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      tolerance: String = "10 minutes", horizon: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", horizon).alias("l")
    val r = right
      .select(col("key"), col("ts").as("r_ts"), col("value").as("r_value"))
      .withWatermark("r_ts", horizon).alias("r")
    l.join(r,
      expr(s"""l.key = r.key AND
               r_ts >= l.ts - INTERVAL $tolerance AND r_ts <= l.ts"""))
      .select(col("l.key").as("key"), col("l.ts").as("ts"),
        col("l.value").as("value"), col("r_ts"), col("r_value"))
  }

  case class Ev(user_id: Long, ts: Timestamp, value: Double)
  case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)
  case class SessionOut(user_id: Long, session_start: Timestamp,
      n_events: Long, session_value: Double)

  /** Stateful sessionization (30-min inactivity gap) via
    * flatMapGroupsWithState + event-time timeout: the streaming
    * equivalent of q36's lag/running-sum sessionizer. State per user is
    * O(1); sessions close when the watermark passes lastTs + gap.
    */
  def sessionize(events: Dataset[Ev], gapMs: Long = 30 * 60 * 1000L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, new Timestamp(s.start), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { ev =>
              val t = ev.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = t, n = s.n + 1, total = s.total + ev.value))
                case Some(s) =>
                  closed ::= SessionOut(user, new Timestamp(s.start), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, ev.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, ev.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapMs)
            }
            closed.reverseIterator
          }
      }
  }
}
