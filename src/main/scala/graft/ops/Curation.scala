package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators over a (doc_id, text) shape: repetition
  * quality stats (Gopher/MassiveText rules), benchmark decontamination
  * (n-gram overlap scrub), and duplicated-span detection (the
  * substring-dedup shape of Lee et al. 2022 reduced to fixed k-grams).
  * All tokenization is lower + `\s+` split (t03's convention); all
  * gram pipelines are codegen higher-order functions (transform over
  * sequence) — no UDFs, nothing leaves whole-stage codegen until the
  * explode.
  */
object Curation {

  /** Word n-grams of a text column as array<string> (empty when the
    * document is shorter than n — NEVER a negative-bound sequence).
    */
  private def gramArray(ws: String, n: Int) =
    when(size(col(ws)) >= n,
      expr(s"transform(sequence(1, size($ws) - ${n - 1}), i -> concat_ws(' ', slice($ws, i, $n)))"))
      .otherwise(array().cast("array<string>"))

  /** (id, pos, g): 1-based positions of a document's word n-grams. */
  def wordGramPositions(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    // fanOut: tokenize + n-gram explode is the heavy per-row kernel and
    // the documents scan arrives as one unsplittable task
    fanOut(docs).select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("_ws"))
      .select(col(idCol), posexplode(gramArray("_ws", n)))
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("g"))

  /** Per-document repetition stats: `top_bigram_frac` = share of
    * bigram occurrences held by the single most frequent bigram;
    * `dup_trigram_frac` = share of trigram occurrences whose trigram
    * repeats within the document. Documents shorter than 3 tokens drop
    * out (no trigrams to judge). Two explode→count pipelines joined on
    * the id — per-(doc, gram) counts combine map-side, and the join
    * keys are the grouping keys, so no extra shuffle.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // no fanOut: the two gram explodes feed map-side-combined aggs whose
    // kernel is too light to amortize the exchange (solo t12 ~ +0.1 s)
    val base = docs
      .select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("_ws"))
    val bi = base.select(col(idCol), explode(gramArray("_ws", 2)).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(max(col("c")).as("topc"), sum(col("c")).as("tot2"))
    val tri = base.select(col(idCol), explode(gramArray("_ws", 3)).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dupc"),
        sum(col("c")).as("tot3"))
    bi.join(tri, Seq(idCol))
      .select(col(idCol),
        (col("topc").cast("double") / col("tot2")).as("top_bigram_frac"),
        (col("dupc").cast("double") / col("tot3")).as("dup_trigram_frac"))
  }

  /** Benchmark decontamination: corpus documents sharing any verbatim
    * word n-gram with the benchmark set, with the count of distinct
    * shared grams and the lowest implicated benchmark id. The
    * benchmark gram set is tiny next to any training corpus, so it is
    * broadcast — corpus grams stream through map-side and only hits
    * reach the aggregation shuffle.
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val benchGrams = wordGramPositions(bench, idCol, textCol, n)
      .groupBy(col("g")).agg(min(col(idCol)).as("bench_doc"))
    wordGramPositions(corpus, idCol, textCol, n)
      .join(broadcast(benchGrams), Seq("g"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("g")).as("n_shared_grams"),
        min(col("bench_doc")).as("first_bench_hit"))
  }

  /** [[decontaminate]]'s 100 TB regime: when the benchmark gram SET is
    * too large to broadcast as a hash relation (a full eval-suite
    * 13-gram inventory is GBs of strings), gate the corpus gram stream
    * through a [[graft.ops.Bloom]] bit table first — 10 bits/gram
    * instead of the gram bytes, still one broadcast — and run the
    * exact gram join only over the ≈1% of survivors (true hits + FPs).
    * The exact join then removes every false positive, so the result
    * EQUALS [[decontaminate]] by construction: d16 runs under d11's
    * oracle verbatim.
    */
  def decontaminateBloom(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    // cacheOnce: THREE consumers read the bench gram table — the
    // sizing count below, the bloom bit aggregation, and the exact
    // join's broadcast build — and each would otherwise re-run the
    // full tokenize + n-gram explode + groupBy over the bench docs
    // (`graft.Bench profile` showed three identical 32-task gram stages per run).
    // The count() that sizes the bloom doubles as the materialization
    // barrier. Bounded frame: distinct bench grams only.
    val benchGrams = cacheOnce(wordGramPositions(bench, idCol, textCol, n)
      .groupBy(col("g")).agg(min(col(idCol)).as("bench_doc")))
    val f = Bloom.build(benchGrams, "g", nRows = benchGrams.count())
    wordGramPositions(corpus, idCol, textCol, n)
      .filter(f.mightContain(col("g")))
      .join(broadcast(benchGrams), Seq("g"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("g")).as("n_shared_grams"),
        min(col("bench_doc")).as("first_bench_hit"))
  }

  /** Remove token spans from documents: `spans` carries
    * (id, span_start, span_end) in 1-based token positions (the
    * [[duplicateSpans]] output shape — which spans to scrub is the
    * caller's POLICY, e.g. only the non-canonical copies of each
    * duplicate cluster). Spans are collected per document into one
    * array and the scrub is a single index-lambda `filter` over the
    * token array — pure codegen, no explode, no per-token shuffle; the
    * only movement is the span groupBy and a join that AQE broadcasts
    * when few documents are affected (the common case). Tokens keep
    * their ORIGINAL case (case-folding belongs to detection, not to
    * the surviving text — positions line up because lowercasing never
    * moves a whitespace boundary); the rebuild joins tokens with
    * single spaces, so original inter-token whitespace is normalized.
    */
  def scrubSpans(docs: DataFrame, spans: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val spansByDoc = spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("_spans"))
    fanOut(docs).join(spansByDoc, Seq(idCol), "left")
      .withColumn("_ws", split(trim(col(textCol)), "\\s+"))
      .withColumn("_kept", when(col("_spans").isNull, col("_ws")).otherwise(
        expr("""filter(_ws, (t, i) ->
          !exists(_spans, sp -> i + 1 >= sp.span_start AND i + 1 <= sp.span_end))""")))
      .select(col(idCol),
        size(col("_ws")).cast("long").as("n_tokens_before"),
        size(col("_kept")).cast("long").as("n_tokens_after"),
        concat_ws(" ", col("_kept")).as("clean_text"))
  }

  /** Duplicated-span detection: maximal contiguous runs of word
    * k-grams occurring more than once corpus-wide, per document, as
    * (span_start, span_end, n_grams) in 1-based token positions
    * (span_end covers the last gram's full k tokens). The
    * duplicated-gram filter is a self-aggregation on the gram; only
    * duplicated positions — a small fraction of any real corpus —
    * reach the per-document window (gaps-and-islands merge).
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    val grams = wordGramPositions(docs, idCol, textCol, k)
    val dup = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("g"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    grams.join(dup, Seq("g"))
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1).cast("long")).as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("island")
  }
}
