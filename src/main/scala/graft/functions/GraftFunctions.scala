package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

/** Column-level API over the custom expressions + derived helpers, and
  * SQL registration so every function also works from `spark.sql`.
  */
object GraftFunctions {

  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(col: Column): Expression = ColumnBridge.expression(col)

  // ---- scalar ag-domain functions (SURVEY §2.7) ----
  def stripAccents(col: Column): Column = c(StripAccents(e(col)))
  def normalizeWs(col: Column): Column = c(NormalizeWs(e(col)))
  def nfcNormalize(col: Column): Column = c(NfcNormalize(e(col)))
  def titleCasePt(col: Column): Column = c(TitleCasePt(e(col)))
  def parseBrDecimal(col: Column): Column = c(ParseBrDecimal(e(col)))
  def safraOf(col: Column): Column = c(SafraOf(e(col)))
  def normalizeSafra(col: Column): Column = c(NormalizeSafra(e(col)))
  /** `produto` only disambiguates product-specific units (bushel); the
    * expression is null-intolerant, so a null produto is mapped to ""
    * here rather than nulling the whole conversion.
    */
  def convertUnit(value: Column, from: Column, to: Column, produto: Column): Column =
    c(ConvertUnit(e(value), e(from), e(to), e(coalesce(produto, lit("")))))

  /** F1's inverse — format a number with BR conventions
    * ("1.234,5678"): the translate-swapped US `format_number`, all
    * codegen built-ins. The writer side of
    * [[graft.ingest.Ingest.csvExportBr]]; `parseBrDecimal` of the
    * output recovers the value exactly at the given scale.
    */
  def formatBrDecimal(col: Column, decimals: Int = 4): Column =
    translate(format_number(col.cast("double"), decimals), ",.", ".,")

  /** F2 — multi-format date parse: first format that sticks wins. */
  def parseDateMulti(col: Column): Column =
    coalesce(
      try_to_date(col, "dd/MM/yyyy"),
      try_to_date(col, "dd-MM-yyyy"),
      try_to_date(col, "yyyy-MM-dd"),
      try_to_date(col, "dd/MM/yy"))

  /** F9 — futures ticker month-code (F,G,H,...,Z) + 2-digit year. */
  def tickerMonth(col: Column): Column = {
    val codes = "FGHJKMNQUVXZ"
    val m = map(codes.zipWithIndex.flatMap { case (ch, i) =>
      Seq(lit(ch.toString), lit(i + 1))
    }: _*)
    m(regexp_extract(col, "^[A-Z]{3}([FGHJKMNQUVXZ])\\d{2}$", 1))
  }
  def tickerYear(col: Column): Column =
    (lit(2000) + regexp_extract(col, "([0-9]{2})$", 1).cast("int")).cast("int")

  /** Misra-Gries heavy-hitter candidates as a native mergeable
    * aggregate ([[MisraGriesTopK]]): bounded state, map-side
    * combinable, usable per GROUP — `array<struct<item, est_count>>`.
    */
  def mgTopK(col: Column, k: Int): Column =
    c(MisraGriesTopK(e(col), k).toAggregateExpression())

  /** KLL-style mergeable quantile sketch ([[KllQuantiles]]): O(k)
    * state, map-side combinable, exact while n ≤ k —
    * `array<double>` aligned with `probs`.
    */
  def kllQuantiles(col: Column, k: Int, probs: Seq[Double]): Column =
    c(KllQuantiles(e(col), k, probs).toAggregateExpression())

  /** State-valued KLL forms (the hll_sketch_agg/hll_union_agg
    * analogues): persist per-shard sketches, merge later, read
    * quantiles at metadata scale.
    */
  def kllSketchAgg(col: Column, k: Int): Column =
    c(KllSketchAgg(e(col), k).toAggregateExpression())
  def kllMergeAgg(col: Column): Column =
    c(KllMergeAgg(e(col)).toAggregateExpression())
  def kllSketchQuantiles(col: Column, probs: Seq[Double]): Column =
    c(KllSketchQuantiles(e(col), probs))

  /** Exact per-group top-k as a bounded-heap aggregate ([[TopKByOrd]]):
    * `array<struct<ord, tie, payload>>` sorted ord desc, tie asc —
    * the map-side-combining replacement for a rank-window filter.
    */
  def topKBy(ord: Column, tie: Column, payload: Column, k: Int): Column =
    c(TopKByOrd(e(ord), e(tie), e(payload), k).toAggregateExpression())

  // ---- sketches (dedup / similarity) ----
  def hash64(col: Column, seed: Long = 0L): Column = c(Hash64(e(col), seed))
  def simhash64(col: Column): Column = c(SimHash64(e(col)))
  def minhashSig(col: Column, shingleSize: Int = 3, numHashes: Int = 64,
      seed: Long = 42L): Column = c(MinHashSig(e(col), shingleSize, numHashes, seed))
  def winnowFingerprint(col: Column, k: Int = 8, w: Int = 4): Column =
    c(Winnow(e(col), k, w))
  def cosineSim(a: Column, b: Column): Column = c(CosineSim(e(a), e(b)))
  def cellAssign(v: Column, cents: Seq[Seq[Float]]): Column =
    c(CellAssign(e(v), cents))
  def cellProbes(v: Column, cents: Seq[Seq[Float]], nprobe: Int): Column =
    c(CellProbes(e(v), cents, nprobe))
  def pqEncodeCodes(v: Column, books: Seq[Seq[Seq[Float]]]): Column =
    c(PqEncodeCodes(e(v), books))
  def hyperplaneLsh(col: Column, nbits: Int = 16, seed: Long = 42L): Column =
    c(HyperplaneLsh(e(col), nbits, seed))
  def l2Normalize(v: Column): Column = c(L2Normalize(e(v)))
  def l2NormalizeF(v: Column): Column = c(L2NormalizeF(e(v)))
  def subLit(v: Column, m: Seq[Double]): Column = c(SubtractLit(e(v), m))
  def dotLit(v: Column, w: Seq[Double], seed: Double = 0.0): Column =
    c(DotProductLit(e(v), w, seed))
  def round6Long(v: Column): Column = c(Round6ScaledLong(e(v)))
  def hammingDist64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
  def gzipRatio(col: Column): Column = c(GzipRatio(e(col)))
  def mediaDims(col: Column): Column = c(MediaDims(e(col)))

  // ---- text analysis (composed from builtins => codegen'd) ----

  /** Whitespace token count. */
  def tokenCount(col: Column): Column =
    size(split(trim(col), "\\s+")).cast("long")

  /** BPE-ish subword count: word-ish runs + digits + punctuation pieces. */
  def bpeishTokenCount(col: Column): Column =
    size(regexp_extract_all(col, lit("[A-Za-z\\u00C0-\\u024F]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Quality scoring components (length / punct ratio / stopword ratio),
    * mirroring the reference's quality heuristics as pure expressions.
    */
  def punctRatio(col: Column): Column = {
    val total = length(col).cast("double")
    val punct = (length(col) - length(regexp_replace(col, "[^\\p{L}\\p{N}\\s]", ""))).cast("double")
    when(total === 0, 0.0).otherwise(punct / total)
  }

  def stopwordRatio(col: Column, stopwords: Seq[String]): Column = {
    val toks = split(lower(trim(col)), "\\s+")
    val n = size(toks)
    val sw = filter(toks, t => t.isin(stopwords.map(s => lit(s)): _*))
    when(n === 0, 0.0).otherwise(size(sw).cast("double") / n.cast("double"))
  }

  /** Composite document quality score in [0,1]:
    * 0.4*length component (chars/500 capped) + 0.3*(1-punctRatio) +
    * 0.3*stopword presence (ratio/0.1 capped). Deterministic, SQL-expressible.
    */
  def qualityScore(col: Column, stopwords: Seq[String]): Column = {
    val lenComp = least(length(col).cast("double") / 500.0, lit(1.0))
    val punctComp = lit(1.0) - punctRatio(col)
    val swComp = least(stopwordRatio(col, stopwords) / 0.1, lit(1.0))
    round(lit(0.4) * lenComp + lit(0.3) * punctComp + lit(0.3) * swComp, 6)
  }

  /** Language-ID by stopword-marker hits: score per language = number of
    * marker-word occurrences; argmax with deterministic tie-break on
    * language code. Returns the 2-letter code ('und' when no hits).
    * N-gram heuristics done as pure relational expressions.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "en" -> Seq("the", "and", "is", "of", "to", "in"),
    "es" -> Seq("el", "la", "los", "las", "es", "y"),
    "fr" -> Seq("le", "la", "les", "et", "est", "des"),
    "pt" -> Seq("o", "a", "os", "as", "e", "de"))

  def langIdScore(col: Column, markers: Seq[String]): Column = {
    val toks = split(lower(trim(col)), "\\s+")
    size(filter(toks, t => t.isin(markers.map(lit): _*))).cast("long")
  }

  def langId(col: Column): Column = {
    // greatest-by-score with tie-break: build struct(score, negOrd) and take max
    val structs = langMarkers.zipWithIndex.map { case ((code, markers), i) =>
      struct(langIdScore(col, markers).as("score"),
        lit(-i).as("ord"), lit(code).as("code"))
    }
    val best = greatest(structs: _*)
    when(best.getField("score") === 0, "und").otherwise(best.getField("code"))
  }

  /** Sessions whose registry already carries the graft functions —
    * weak keys so a dropped session doesn't pin its registry here.
    * Registration is idempotent in effect, but re-registering logs one
    * `SimpleFunctionRegistry ... replaced` WARN per function, which
    * polluted every bench/verify artifact tail (each entry point calls
    * [[register]] defensively); the guard makes the defensive calls
    * silent no-ops after the first.
    */
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Names a graft [[register]] pass actually wrote into a registry —
    * weak-keyed by the registry instance (sessions can share one). A
    * null/empty owner class in ExpressionInfo is only evidence of graft
    * ownership when graft itself registered that name there; a USER
    * temp function whose info carries no class name must still be
    * reported as a shadow, or the WARN diagnostic quietly loses exactly
    * the case it exists for.
    */
  private val graftWroteNames =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[AnyRef, java.util.Set[String]]())

  /** Register SQL-callable versions of the custom expressions (once
    * per session — safe to call from every entry point).
    */
  /** Several registered queries declare a DELIBERATE single-partition
    * window with a materialized constant partition key — their frames
    * are metadata-scale by construction (block totals, a 10-bin
    * histogram, a limit-k rank), and `PlanLintSpec` machine-governs
    * the pattern (it sees through constant keys, so they stay on its
    * allowlist). Spark's `EliminateWindowPartitions` strips any
    * foldable key back out, reverting the spec to empty — which makes
    * `WindowExec` WARN on every run about a choice the lint already
    * proves safe. Sessions that install graft keep the declared key by
    * excluding that single rule; results are identical either way (the
    * rule only removes constant keys, which only these declarations
    * use), and on a session without the exclusion the queries still
    * run correctly, with Spark's warning restored.
    */
  private def keepDeclaredWindowPartitions(spark: SparkSession): Unit = {
    val rule = "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions"
    val key = "spark.sql.optimizer.excludedRules"
    val cur = spark.conf.getOption(key).getOrElse("")
    if (!cur.split(",").map(_.trim).contains(rule))
      spark.conf.set(key, if (cur.isEmpty) rule else s"$cur,$rule")
  }

  /** @return the names found shadowed by FOREIGN (non-graft) session
    *         functions on this pass — empty on a clean registry or a
    *         repeat call; the same list the shadow WARN reports.
    */
  def register(spark: SparkSession): Seq[String] = {
    keepDeclaredWindowPartitions(spark)
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) != null)
      return Seq.empty
    val reg = spark.sessionState.functionRegistry
    // A session built with [[GraftExtensions]] already carries these
    // names (injected as built-ins): registering over them would both
    // WARN and shadow the injected ExpressionInfo, so present names are
    // left alone rather than replaced. A present name that graft did
    // NOT inject (a user temp function claimed e.g. `hash64` first) is
    // also left alone — the user wins — but that shadows graft's SQL
    // semantics, so it is logged once per session to keep SQL-path
    // behavior differences diagnosable. "Graft-owned" must cover every
    // class name a graft registration can surface: the extensions
    // injector, AND temp functions from a previous register() pass on a
    // session sharing this registry — createOrReplaceTempFunction
    // records the builder LAMBDA's class (graft.functions.…$$Lambda…)
    // in ExpressionInfo, so a bare `!= GraftExtensions` check would
    // mislabel graft's own prior registrations as user shadows and WARN
    // falsely on every later entry point.
    val foreign = scala.collection.mutable.ListBuffer.empty[String]
    val wrote = graftWroteNames.computeIfAbsent(reg,
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
    // a null/empty owner is graft-owned only if graft REGISTERED that
    // name in this registry — a user temp function with no recorded
    // class name is a foreign shadow and must be logged as one
    def graftOwned(owner: String, name: String): Boolean =
      if (owner == null || owner.isEmpty) wrote.contains(name)
      else owner.startsWith("graft.")
    def absent(name: String): Boolean = {
      val id = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
      if (!reg.functionExists(id)) true
      else {
        val owner = reg.lookupFunction(id).map(_.getClassName).orNull
        if (!graftOwned(owner, name)) foreign += name
        false
      }
    }
    for ((name, f) <- catalogue if absent(name)) {
      reg.createOrReplaceTempFunction(name, f, "built-in")
      wrote.add(name)
    }
    if (foreign.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"graft SQL functions shadowed by pre-existing session functions " +
          s"(user registration wins; SQL calls will NOT use graft's " +
          s"implementation): ${foreign.mkString(", ")}")
    foreign.toSeq
  }

  /** Every graft SQL function as (name, builder over the call's
    * arguments): the one list [[register]] and [[GraftExtensions]] both
    * install.
    */
  val catalogue: Seq[(String, Seq[Expression] => Expression)] = {
    def one(f: Expression => Expression): Seq[Expression] => Expression = e => f(e.head)
    def args(f: Seq[Expression] => Expression) = f
    Seq(
      "strip_accents" -> one(StripAccents),
      "normalize_ws" -> one(NormalizeWs),
      "nfc_normalize" -> one(NfcNormalize),
      "title_case_pt" -> one(TitleCasePt),
      "parse_br_decimal" -> one(ParseBrDecimal),
      "safra_of" -> one(SafraOf),
      "normalize_safra" -> one(NormalizeSafra),
      "simhash64" -> one(SimHash64),
      "gzip_ratio" -> one(GzipRatio),
      "media_dims" -> one(MediaDims),
      "convert_unit" -> args(e => ConvertUnit(e(0), e(1), e(2), e(3))),
      "hash64" -> one(Hash64(_, 0L)),
      "cosine_sim" -> args(e => CosineSim(e(0), e(1))),
      "minhash_sig" -> one(MinHashSig(_, 3, 64, 42L)),
      "winnow" -> one(Winnow(_, 8, 4)),
      "hyperplane_lsh" -> one(HyperplaneLsh(_, 16, 42L)),
      // aggregate: the analyzer wraps a bare AggregateFunction builder
      "mg_topk" -> args(e => MisraGriesTopK(e(0), literalK(e(1), "mg_topk"))),
      // SQL form pins the quartiles; arbitrary probs via the Scala API
      "kll_quantiles" -> args(e => KllQuantiles(e(0),
        literalK(e(1), "kll_quantiles"), Seq(0.25, 0.5, 0.75))))
  }

  /** k arguments of SQL-registered sketch functions must be literal
    * ints: a non-foldable or NULL k fails here with a plan-time message
    * instead of an opaque NPE/CCE from an eager `eval()`.
    */
  private[functions] def literalK(expr: Expression, fname: String): Int = {
    if (!expr.foldable)
      throw new IllegalArgumentException(
        s"$fname requires a literal integer k, got non-literal: ${expr.sql}")
    expr.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fname requires a literal integer k, got: ${if (other == null) "NULL" else other}")
    }
  }
}
