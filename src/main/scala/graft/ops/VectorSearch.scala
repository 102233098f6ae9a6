package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions => G}
import graft.store.Skipping

/** Approximate-nearest-neighbor search over an embedding column.
  * Three paths:
  *  - brute-force: broadcast the (tiny) query set, score every row,
  *    TakeOrdered top-k — the exactness baseline, one scan, no shuffle
  *    beyond the top-k reduction;
  *  - LSH-bucketed: hyperplane sign buckets across several hash tables,
  *    candidates = rows sharing a (table, bucket) with the query, then
  *    exact cosine re-rank of candidates only. At 100 TB the bucket join
  *    touches ~n/2^nbits × tables rows instead of n;
  *  - IVF-Flat: k-means Voronoi cells + nprobe probing — data-adaptive
  *    where LSH is oblivious (see [[trainCentroids]]/[[ivfCandidates]]).
  */
object VectorSearch {

  /** Exact top-k by cosine against a broadcast 1-row query. */
  def bruteForceTopK(vectors: DataFrame, query: DataFrame, vecCol: String,
      k: Int): DataFrame = {
    // no fanOut here: `vectors` may be join-rooted (exactTop10From),
    // whose size ESTIMATE is a product that varies with upstream file
    // sizes — callers fan out their scan-rooted side instead, so the
    // plan shape stays deterministic
    val q = query.select(col(vecCol).as("q_vec"))
    vectors.crossJoin(broadcast(q))
      .withColumn("sim", round(G.cosineSim(col(vecCol), col("q_vec")), 6))
      .drop("q_vec")
  }

  /** Candidate set via multi-table hyperplane LSH bucket equality with
    * the query row, then exact cosine re-rank. Returns all candidates
    * with their similarity; caller takes top-k.
    */
  def lshCandidates(vectors: DataFrame, query: DataFrame, vecCol: String,
      nbits: Int, tables: Int, baseSeed: Long = 42L,
      queryIdCol: Option[String] = None): DataFrame = {
    def bucketed(df: DataFrame, vc: String): DataFrame = {
      val tableCols = (0 until tables).map { t =>
        struct(lit(t).as("tbl"),
          G.hyperplaneLsh(col(vc), nbits, baseSeed + t).as("bucket"))
      }
      df.withColumn("e", explode(array(tableCols: _*)))
        .withColumn("tbl", col("e.tbl"))
        .withColumn("bucket", col("e.bucket"))
        .drop("e")
    }
    val qcols = col(vecCol).as("q_vec") +:
      queryIdCol.map(c => col(c).as("query_id")).toSeq
    val qb = broadcast(bucketed(query.select(qcols: _*), "q_vec")
      .select(col("tbl") +: col("bucket") +: col("q_vec") +:
        queryIdCol.map(_ => col("query_id")).toSeq: _*))
    bucketed(vectors, vecCol)
      .join(qb, Seq("tbl", "bucket"))
      .drop("tbl", "bucket")
      .withColumn("sim", round(G.cosineSim(col(vecCol), col("q_vec")), 6))
      .drop("q_vec")
  }

  /** Literal `array<struct<cid:int, c:array<float>>>` of the trained
    * centroids — tiny (C × dim), rides into codegen as a constant.
    */
  private def centroidArray(cents: Array[Seq[Float]]): Column =
    array(cents.zipWithIndex.map { case (cv, i) =>
      struct(lit(i).as("cid"), typedlit(cv).as("c"))
    }: _*)

  /** Historical regime boundary, kept for the differential specs: below
    * it the centroid-literal argmax ([[nearestCell]]) was the default,
    * above it the broadcast-row fold ([[assignCellsJoin]]). Both are
    * SUPERSEDED as the production path by the plan-reference kernel
    * ([[graft.functions.CellAssign]]): the literal form grows the
    * expression tree with C, the fold form pays a per-(row, centroid)
    * lambda step plus ArrayData struct unwrapping (measured ~650 ns per
    * centroid visit at C=568 — the dominant cost of IVF builds). The
    * kernel keeps the plan constant-size at any C (centroids ride the
    * stage's task-binary broadcast as ONE reference object, prepared
    * into primitive arrays once per executor) and visits a centroid in
    * the plain-Java loop cost of a dot product. Both old forms remain
    * as independently-written baselines the specs hold the kernel
    * equal to.
    */
  private[graft] val LiteralMaxCells = 64

  /** DIFFERENTIAL BASELINE (superseded by [[graft.functions.CellAssign]]
    * — see [[LiteralMaxCells]]): cell assignment as broadcast DATA, the
    * argmax as a per-row `aggregate` fold over the one-row centroid
    * relation. No shuffle, no row-identity key (an earlier form
    * regrouped on `monotonically_increasing_id` — the classic
    * nondeterministic-key-before-shuffle hazard). Tie-break matches
    * [[nearestCell]] and the kernel exactly: highest sim (lowest
    * distance for l2) then lowest cid; a NULL vector folds to the -1
    * sentinel.
    */
  private[graft] def assignCellsJoin(vectors: DataFrame, idCol: String,
      vecCol: String, cents: Array[Seq[Float]], l2: Boolean = false): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val centRow = broadcast(
      Seq(Tuple1(cents.toSeq.zipWithIndex.map { case (cv, i) => (i, cv) }))
        .toDF("_cents"))
    val accType = "struct<cid:int,best:double>"
    val zero =
      if (l2) struct(lit(-1).as("cid"), lit(Double.MaxValue).as("best")).cast(accType)
      else struct(lit(-1).as("cid"), lit(-2.0).as("best")).cast(accType)
    def score(cv: Column): Column =
      if (l2) aggregate(zip_with(col(vecCol), cv,
        (a, b) => (a - b) * (a - b)), lit(0.0d), (s, x) => s + x)
      else G.cosineSim(col(vecCol), cv)
    vectors.crossJoin(centRow)
      .withColumn("cell", aggregate(col("_cents"), zero,
        (acc, e) => {
          val s = score(e.getField("_2"))
          val better = if (l2) s < acc.getField("best") else s > acc.getField("best")
          when(better, struct(e.getField("_1"), s).cast(accType)).otherwise(acc)
        },
        acc => acc.getField("cid")))
      .drop("_cents")
  }

  /** Adds the Voronoi `cell` column via the plan-reference kernel
    * ([[graft.functions.CellAssign]]): a pure projection — no join, no
    * broadcast relation, no shuffle, constant-size plan and generated
    * code at ANY C. Zero/empty vectors score 0 against every centroid
    * and deterministically land in cell 0; a NULL vector gets the -1
    * sentinel, outside every probeable cell id. Assignments are
    * spec-held equal to both superseded forms ([[nearestCell]]'s
    * literal argmax and [[assignCellsJoin]]'s broadcast-row fold),
    * tie-breaks included.
    */
  def withNearestCell(vectors: DataFrame, idCol: String, vecCol: String,
      cents: Array[Seq[Float]]): DataFrame =
    vectors.withColumn("cell",
      coalesce(G.cellAssign(col(vecCol), cents.toSeq), lit(-1)))

  /** Top-`nprobe` nearest cells per row, EXPLODED as a `cell` column —
    * the multi-probe sibling of [[withNearestCell]], also the
    * plan-reference kernel ([[graft.functions.CellProbes]]). Ranking
    * is the struct-sort's exactly (sim desc, then cid desc on exact
    * fp ties), so swapping in either earlier form can never change
    * which cells a row probes (differential spec holds all three
    * equal).
    */
  private[graft] def withProbedCells(df: DataFrame, vecCol: String,
      cents: Array[Seq[Float]], nprobe: Int): DataFrame =
    df.withColumn("cell",
      explode(G.cellProbes(col(vecCol), cents.toSeq, nprobe)))

  private def probesOf(vecCol: String, nprobe: Int, centArr: Column,
      cid: Column => Column, cvec: Column => Column): Column = {
    val sims = transform(centArr,
      e => struct(G.cosineSim(col(vecCol), cvec(e)).as("sim"),
        cid(e).as("cid")))
    explode(transform(slice(reverse(array_sort(sims)), 1, nprobe),
      s => s.getField("cid")))
  }

  private[graft] def probedCellsLiteral(df: DataFrame, vecCol: String,
      cents: Array[Seq[Float]], nprobe: Int): DataFrame =
    df.withColumn("cell", probesOf(vecCol, nprobe,
      centroidArray(cents), _.getField("cid"), _.getField("c")))

  private[graft] def probedCellsJoin(df: DataFrame, vecCol: String,
      cents: Array[Seq[Float]], nprobe: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val centRow = broadcast(
      Seq(Tuple1(cents.toSeq.zipWithIndex.map { case (cv, i) => (i, cv) }))
        .toDF("_cents"))
    df.crossJoin(centRow)
      .withColumn("cell", probesOf(vecCol, nprobe,
        col("_cents"), _.getField("_1"), _.getField("_2")))
      .drop("_cents")
  }

  /** Voronoi cell of a vector: argmax cosine over the centroid literal,
    * one pass per row via `aggregate` — no explode, no shuffle, stays
    * inside whole-stage codegen.
    */
  def nearestCell(vec: Column, cents: Array[Seq[Float]]): Column = {
    // aliases inside lambda bodies are stripped by the analyzer, so
    // both when-branches are pinned to one named struct type via cast
    val accType = "struct<cid:int,best:double>"
    aggregate(centroidArray(cents),
      struct(lit(-1).as("cid"), lit(-2.0).as("best")).cast(accType),
      (acc, e) => {
        val s = G.cosineSim(vec, e.getField("c"))
        when(s > acc.getField("best"),
          struct(e.getField("cid"), s).cast(accType)).otherwise(acc)
      },
      acc => acc.getField("cid"))
  }

  /** Train the IVF coarse quantizer (Lloyd's k-means, cosine
    * assignment): seeds are the first `c` vectors under xxhash64(id)
    * order (deterministic, data-independent tie-break), then `iters`
    * assign/mean rounds. Train on a hash-sample (`sampleMod` > 1 keeps
    * 1/sampleMod of rows) — a coarse quantizer never needs the full
    * corpus, which is what makes training viable at 100 TB. Collected
    * state is C × dim doubles — bounded and tiny by construction.
    */
  /** Decode one fixed-point Lloyd mean row (`s` = try_sum of 1e-12
    * units, `n` = count): NULL `s` means the exact long sum wrapped —
    * refuse loudly (a silently wrapped mean corrupts the trained
    * centroids deterministically, so no downstream hash check could
    * catch it). The division replicates the old in-plan
    * `sum/1e12/count` IEEE sequence exactly.
    */
  private def fpMean(r: org.apache.spark.sql.Row, who: String): Double = {
    val si = r.fieldIndex("s")
    require(!r.isNullAt(si),
      s"$who: fixed-point sum overflowed the long range in one " +
        "(cell,pos) group — train on a bounded sample (sampleMod) " +
        "to keep per-group row counts under ~9.2e18/(maxAbs*1e12)")
    r.getLong(si).toDouble / 1e12 / r.getAs[Long]("n").toDouble
  }

  def trainCentroids(vectors: DataFrame, idCol: String, vecCol: String,
      c: Int, iters: Int = 3, sampleMod: Int = 1): Array[Seq[Float]] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val sample = cacheOnce((if (sampleMod <= 1) vectors
      else vectors.filter(pmod(xxhash64(col(idCol)), lit(sampleMod)) === 0))
      .select(col(idCol).as("id"), col(vecCol).as("v"))
    ) // read once per Lloyd round
    var cents: Array[Seq[Float]] = sample
      .orderBy(xxhash64(col("id")), col("id")).limit(c)
      .select(col("v")).collect()
      .map(_.getSeq[Float](0))
    for (_ <- 1 to iters) {
      // assignment via the plan-reference kernel (withNearestCell ->
      // CellAssign): constant-size plan and generated code at any C,
      // no N×C row set ever materialized (an earlier form joined the
      // C-row centroid relation and re-grouped on id — N×C rows
      // through a groupBy shuffle per Lloyd round), one plain-Java
      // dot-product loop per centroid visit (the fold form paid ~650ns
      // per visit in lambda + ArrayData unwrapping)
      // mean over exact FIXED-POINT sums (x truncated to 1e-12 units via
      // a long cast — NOT round(), whose double path allocates a
      // BigDecimal per row): associative and codegen-native, so the value is
      // independent of partition count/merge order — the training input
      // may now arrive fanned out across tasks (a double sum would make
      // the centroids, and every downstream ADC score, flap run-to-run
      // with shuffle arrival order; same order-free stance as a09's dim
      // stats, in the integer form the t17/q61 paths use). The 5e-13
      // quantization sits ~5 decimal orders below float precision, so
      // the .toFloat centroids are unchanged (hash-verified on all SFs).
      // Overflow is CHECKED, not assumed away: per-row |x|·1e12 can reach
      // ~1e15, so a single (cell,pos) group wraps past 2^63 ≈ 9.2e18 at
      // ~10^4-10^7 rows — reachable when callers train on the full corpus
      // (sampleMod=1). try_sum surfaces the wrap as NULL and fpMean
      // refuses it loudly; a wrapped mean would corrupt every centroid
      // (and every downstream ADC score) deterministically, invisible to
      // hash checks. The division moves driver-side with the identical
      // IEEE sequence (long→double, /1e12, /count).
      val means = withNearestCell(sample, "id", "v", cents)
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(try_sum((col("x") * 1e12).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect() // C × dim rows — driver-side by design
        .groupBy(_.getAs[Int]("cell"))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getAs[Int]("pos"))
            .map(fpMean(_, "trainCentroids").toFloat).toSeq
        }
      cents = cents.zipWithIndex.map { case (old, i) => means.getOrElse(i, old) }
    }
    sample.unpersist()
    cents
  }

  /** IVF-Flat probe (the inverted-file ANN family — Jégou et al.
    * TPAMI'11; data-adaptive where hyperplane LSH is oblivious): the
    * query probes its `nprobe` nearest Voronoi cells and exact cosine
    * re-ranks inside them only. `nprobe == c` degenerates to exact
    * brute force (the spec asserts that equivalence). At 100 TB `cell`
    * is a partition column of a persisted index table, so a probe
    * reads ~nprobe/C of the data instead of all of it.
    */
  /** @param queryIdCol when set, that column of `query` rides along as
    *   `query_id` — the batch shape (a query SET against the corpus in
    *   one probe-join, not a per-query loop).
    * @param idCol when set, corpus cell assignment routes through
    *   [[withNearestCell]] — required for the broadcast-join regime at
    *   production C (without an id the assignment stays literal).
    */
  def ivfCandidates(vectors: DataFrame, query: DataFrame, vecCol: String,
      cents: Array[Seq[Float]], nprobe: Int,
      queryIdCol: Option[String] = None,
      idCol: Option[String] = None): DataFrame = {
    val qcols = col(vecCol).as("q_vec") +:
      queryIdCol.map(c => col(c).as("query_id")).toSeq
    val qb = broadcast(query.select(qcols: _*)
      .withColumn("cell",
        explode(G.cellProbes(col("q_vec"), cents.toSeq, nprobe))))
    val assigned = idCol match {
      case Some(ic) => withNearestCell(vectors, ic, vecCol, cents)
      case None => vectors.withColumn("cell", nearestCell(col(vecCol), cents))
    }
    assigned
      .join(qb, Seq("cell"))
      .withColumn("sim", round(G.cosineSim(col(vecCol), col("q_vec")), 6))
      .drop("q_vec", "cell")
  }

  /** EXACT cosine pair join (every pair with cos >= minCos, no sketch
    * error) that still never goes all-pairs: grid blocking on the unit
    * sphere. For L2-normalized vectors, cos(a,b) >= τ ⟺
    * ||â-b̂|| <= r = sqrt(2(1-τ)), so points are hashed to an r-wide
    * grid over the first `gridDims` normalized coordinates; a
    * qualifying pair's cells differ by at most 1 per axis, so probing
    * the 3^gridDims neighbor offsets finds every such pair exactly
    * once (the offset pair is unique given the two cells). Exact
    * cosine is then verified inside the bucket only. The same
    * epsilon-ball grid join shape as the binned range join (q31),
    * lifted to the sphere.
    *
    * Scale notes — measured, not hoped (SCALE.md): the grid is a
    * CONSTANT-FACTOR candidate cut, not an asymptotic one, and how big
    * the constant is depends on the corpus geometry. On a clustered /
    * anisotropic corpus cells discriminate and the join approaches the
    * output size. On an ISOTROPIC high-dim corpus (the testdata:
    * coordinate σ = 1/√dim, so each axis spans ~5 cells at τ = 0.99)
    * each grid axis cuts candidates ×(cells) but costs ×3 probe
    * replication — a measured ~×1.7 net per axis with no winning
    * stopping point, which is concentration of measure at work: all
    * pairwise distances crowd √2, so NO exact blocking scheme — grid,
    * Voronoi-with-triangle-bound, or PCA-projected (both measured
    * slower at sf1.0) — prunes asymptotically without false negatives.
    * Exact all-pairs at high τ over isotropic data is Θ(N²) candidate
    * work, full stop. This operator is therefore the EXACTNESS
    * CERTIFICATE of the embedding-dedup family (a05 certifies what
    * a03/d15 compute approximately); the production near-dup path at
    * 100 TB is LSH banding (nearDupPairs) or SemDeDup cells, both
    * measured linear-ish at their production configs.
    */
  def cosinePairsExact(vectors: DataFrame, idCol: String, vecCol: String,
      minCos: Double, gridDims: Int = 2): DataFrame = {
    require(minCos > 0 && minCos < 1, "minCos must be in (0,1)")
    val r = math.sqrt(2.0 * (1.0 - minCos))
    // fanOut: both grid-join sides recompute this projection (see the
    // no-cache note below) — normalization + grid hashing off a narrow
    // scan would run single-task on each side
    // codegen'd float-exact normalize kernel (L2NormalizeF: the fold
    // over array<float> squared in FLOAT — preserved bit-for-bit) in
    // place of the interpreted fold + per-axis divide; the grid cell is
    // floor((x/nrm)/r) either way, same association order
    val base = fanOut(vectors.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("_nv", G.l2NormalizeF(col("v")))
      .filter(col("_nv").isNotNull)
      .withColumn("cells", array((0 until gridDims).map(i =>
        floor(element_at(col("_nv"), i + 1) / lit(r)).cast("int")): _*))
      .drop("_nv")
    // both grid-join sides re-scan `base` rather than cache it: an
    // operator that pins the WHOLE corpus in executor storage is
    // anti-scale at 100 TB (and a returned-lazy cache can never be
    // unpersisted, so it would squat on the session's storage for the
    // caller's lifetime); the recomputed projection is scan + cheap
    // per-row math
    val offsets = {
      def combos(d: Int): Seq[Seq[Int]] =
        if (d == 0) Seq(Seq.empty)
        else for (rest <- combos(d - 1); o <- -1 to 1) yield o +: rest
      array(combos(gridDims).map(c => typedlit(c)): _*)
    }
    val probes = base.select(col("id").as("id2"), col("v").as("v2"),
        col("cells"), explode(offsets).as("off"))
      .select(col("id2"), col("v2"),
        zip_with(col("cells"), col("off"), (c, o) => c + o).as("cells"))
    base.select(col("id").as("id1"), col("v").as("v1"), col("cells"))
      .join(probes, Seq("cells"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", G.cosineSim(col("v1"), col("v2")))
      .filter(col("cos") >= minCos)
      .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
  }

  /** Materialize the IVF index as a parquet table PARTITIONED BY the
    * Voronoi cell — the persisted form of [[ivfCandidates]]'s in-query
    * assignment. Build cost is one scan + one partitioned write; after
    * that every probe is directory-pruned I/O (nprobe of C partitions
    * touched, nothing else read), which is the property that makes IVF
    * pay at 100 TB: the index is built once and probes scale with
    * nprobe/C, not with the corpus.
    */
  def buildIvfIndex(vectors: DataFrame, idCol: String, vecCol: String,
      cents: Array[Seq[Float]], path: String): Unit =
    withNearestCell(vectors, idCol, vecCol, cents)
      // one write task per cell, not every task split across every cell
      // (C × tasks tiny files otherwise — see buildIvfPqIndex)
      .repartition(cents.length, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Incremental index maintenance: assign a NEW batch of vectors to
    * their cells under the EXISTING coarse quantizer and append to the
    * index's cell partitions — no rebuild, no touch of resident data;
    * probes see the union immediately (dynamic partition append only
    * creates/extends the batch's own cells). This is how a live ANN
    * index absorbs a day's embeddings at 100 TB — quantizer retraining
    * is a separate, rarer event (and would be a new index directory, a
    * TxStore-style versioned swap). Centroids MUST be the ones the
    * index was built with, or resident and new vectors would disagree
    * on cell geometry — pass the persisted quantizer, never retrain ad
    * hoc (IvfIndexSpec proves append ≡ full rebuild under the same
    * centroids).
    */
  def appendToIvfIndex(batch: DataFrame, idCol: String, vecCol: String,
      cents: Array[Seq[Float]], path: String): Unit =
    withNearestCell(batch, idCol, vecCol, cents)
      // same cell co-location as the build: an un-repartitioned append
      // adds tasks × cells tiny files per day, exactly the layout rot
      // the build-side fix removed
      .repartition(cents.length, col("cell"))
      .write.mode("append").partitionBy("cell").parquet(path)

  /** VERSIONED IVF index — the index as a [[graft.store.TxStore]]
    * table: the cell-partitioned assignment is the snapshot content,
    * daily batches land through the transactional MERGE-free append
    * path of the caller's choice, and QUANTIZER RETRAINING — the one
    * event a live plain-directory index can't absorb (resident and new
    * vectors would disagree on cell geometry) — is a `commitReplace`:
    * the whole re-assigned index swaps in atomically, probes mid-flight
    * keep reading the version they resolved, the old geometry stays
    * time-travelable until retention expires it, and the table history
    * shows `replace` where rebuilds happened. Centroids are persisted
    * BESIDE the version they shaped (`_quantizer/v<N>.txt` — the cell
    * geometry is part of the snapshot's identity), so
    * [[probeVersionedIvf]] never needs the caller to remember which
    * quantizer built which version.
    */
  def initVersionedIvf(vectors: DataFrame, idCol: String, vecCol: String,
      cents: Array[Seq[Float]], root: String): Long = {
    // refuse BEFORE touching the sidecar: initPartitioned would throw
    // on an already-initialized root anyway, but by then an
    // unconditional writeQuantizer would have clobbered the existing v1
    // geometry — and readQuantizer's at-or-below-v fallback would
    // afterwards serve the WRONG centroids for v1 and every append
    // version inheriting it, corrupting committed data
    require(graft.store.TxStore.currentVersion(root).isEmpty,
      s"initVersionedIvf: table already initialized at $root — " +
      "retrain through retrainVersionedIvf, which swaps geometry atomically")
    // sidecar precedes the commit: init always publishes v1, and a v1
    // quantizer beside a table that never commits is inert, while the
    // reverse order would let a crash commit a version with no geometry
    writeQuantizer(root, 1L, cents)
    graft.store.TxStore.initPartitioned(
      withNearestCell(vectors, idCol, vecCol, cents)
        .repartition(cents.length, col("cell")), root, "cell")
  }

  /** Retrain-and-swap: re-assign every vector under the NEW quantizer
    * and publish atomically as the next version. The quantizer sidecar
    * is written through `commitReplace`'s beforeFlip hook, so a version
    * can never be committed without its own geometry on disk — a crash
    * between the two would otherwise leave [[readQuantizer]]'s
    * at-or-below-v fallback silently serving the OLD quantizer against
    * data assigned under the NEW one.
    */
  def retrainVersionedIvf(spark: SparkSession, root: String, idCol: String,
      vecCol: String, newCents: Array[Seq[Float]]): Long = {
    val resident = graft.store.TxStore.read(spark, root).drop("cell")
    graft.store.TxStore.commitReplace(spark, root,
      withNearestCell(resident, idCol, vecCol, newCents)
        .repartition(newCents.length, col("cell")),
      partitionBy = Some("cell"),
      beforeFlip = v => writeQuantizer(root, v, newCents))
  }

  /** The single-query APIs ([[probeVersionedIvf]], [[truncatedRerank]])
    * share one shortlist/top-k across their whole input: with more than
    * one query row the scores would silently mix. Enforced loudly here;
    * the cost is a bounded `limit(2)` count over a frame that is tiny
    * by contract.
    */
  private def requireSingleQuery(query: DataFrame, api: String, batchApi: String): Unit = {
    val n = query.limit(2).count()
    require(n == 1,
      s"$api answers ONE query per call (got ${if (n > 1) ">1" else "0"} rows): " +
      s"its shortlist and top-k are global, so multiple query rows would mix " +
      s"scores across queries — use $batchApi to thread a query id through a batch")
  }

  /** Probe the CURRENT version (or `version` for time travel) with the
    * quantizer persisted beside that version — old geometry probes old
    * snapshots correctly forever. Single-query by contract (asserted):
    * batch probes go through [[probeIvfIndexBatch]] against
    * `TxStore.versionDir`, which threads a query id.
    */
  def probeVersionedIvf(spark: SparkSession, root: String, query: DataFrame,
      vecCol: String, nprobe: Int, version: Option[Long] = None): DataFrame = {
    requireSingleQuery(query, "probeVersionedIvf",
      "probeIvfIndexBatch(spark, TxStore.versionDir(root, v), ...)")
    val v = version.orElse(graft.store.TxStore.currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    val cents = readQuantizer(root, v)
    val dir = graft.store.TxStore.versionDir(root, v)
    val cells = query.select(col(vecCol).as("q_vec"))
      .select(explode(G.cellProbes(col("q_vec"), cents.toSeq, nprobe)).as("cell"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val qb = broadcast(query.select(col(vecCol).as("q_vec")))
    Skipping.readParquet(spark, dir)
      .filter(col("cell").isin(cells: _*))
      .crossJoin(qb)
      .withColumn("sim", round(G.cosineSim(col(vecCol), col("q_vec")), 6))
      .drop("q_vec", "cell")
  }

  /** The quantizer rides beside its version: C lines of
    * space-separated floats (tiny — C × dim).
    */
  private def writeQuantizer(root: String, v: Long, cents: Array[Seq[Float]]): Unit = {
    val dir = java.nio.file.Paths.get(root, "_quantizer")
    java.nio.file.Files.createDirectories(dir)
    val body = cents.map(_.mkString(" ")).mkString("\n")
    java.nio.file.Files.writeString(dir.resolve(s"v$v.txt"), body)
  }

  private def readQuantizer(root: String, v: Long): Array[Seq[Float]] = {
    // the quantizer of the nearest version at or below v (append
    // commits inherit the geometry they were assigned under)
    val dir = java.nio.file.Paths.get(root, "_quantizer")
    val file = (v to 1L by -1L).map(x => dir.resolve(s"v$x.txt"))
      .find(java.nio.file.Files.exists(_))
      .getOrElse(throw new IllegalStateException(s"no quantizer at or below v$v in $root"))
    java.nio.file.Files.readString(file).split("\n")
      .map(_.trim).filter(_.nonEmpty)
      .map(line => line.split(" ").map(_.toFloat).toSeq)
  }

  /** Probe the persisted index: the query's nprobe nearest cells are
    * computed driver-side from the (tiny) centroid array, and the scan
    * carries `cell IN (...)` — a PARTITION filter, so only the probed
    * directories are listed and read (asserted on the plan in
    * IvfIndexSpec). Candidates are exact-cosine re-ranked as in the
    * in-query path; same answer, I/O ∝ nprobe/C.
    */
  def probeIvfIndex(spark: SparkSession, path: String, query: DataFrame,
      vecCol: String, cents: Array[Seq[Float]], nprobe: Int): DataFrame = {
    // query sets are small by contract — the probe list is bounded
    val cells = query.select(col(vecCol).as("q_vec"))
      .select(explode(G.cellProbes(col("q_vec"), cents.toSeq, nprobe)).as("cell"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val qb = broadcast(query.select(col(vecCol).as("q_vec")))
    Skipping.readParquet(spark, path)
      .filter(col("cell").isin(cells: _*))
      .crossJoin(qb)
      .withColumn("sim", round(G.cosineSim(col(vecCol), col("q_vec")), 6))
      .drop("q_vec", "cell")
  }

  /** Per-query top-k over a scored (query_id, id, sim) set WITHOUT
    * shuffling every scored row to its query's reducer: phase 1 takes
    * the top-k per (query, input-partition) — the group is wholly
    * inside one partition, so collect_list's partial aggregation does
    * the work map-side and the shuffle carries ≤ Q·P·k rows; phase 2
    * re-ranks that bounded set with an ordinary window. With Q queries
    * against an n-row corpus the naive window plan shuffles n·Q rows;
    * this shuffles Q·P·k — the tree-reduction every distributed top-k
    * needs at scale. Ordering is (sim DESC, id ASC), on the ALREADY
    * ROUNDED sim, so engine tie-breaks are deterministic.
    */
  def batchTopK(scored: DataFrame, queryIdCol: String, idCol: String,
      simCol: String, k: Int): DataFrame =
    // bounded-heap native aggregate ([[graft.functions.TopKByOrd]]):
    // each map-side partial holds ≤ k rows per query, the shuffle
    // carries only those, and no window/sort ever sees the full
    // candidate set. (Replaced the earlier per-partition collect_list
    // + rank-window form, whose partials buffered WHOLE partitions.)
    scored.groupBy(col(queryIdCol))
      .agg(graft.functions.GraftFunctions.topKBy(
        col(simCol).cast("double"), col(idCol).cast("long"),
        col(idCol), k).as("_top"))
      .select(col(queryIdCol), posexplode(col("_top")).as(Seq("_i", "_e")))
      .select(col(queryIdCol), col("_e.tie").as(idCol),
        col("_e.ord").as(simCol), (col("_i") + 1).cast("int").as("rank"))

  /** Batch probe of the persisted IVF index: the whole query SET is
    * answered in ONE pruned scan — the union of every query's nprobe
    * cells becomes the partition filter, and a broadcast join on `cell`
    * hands each index row only to the queries that probed its cell
    * (where [[probeIvfIndex]] cross-joins its single query). Per-query
    * candidates are identical to nprobe separate probes; I/O is the
    * UNION of probed cells, read once.
    */
  def probeIvfIndexBatch(spark: SparkSession, path: String, queries: DataFrame,
      vecCol: String, queryIdCol: String, cents: Array[Seq[Float]],
      nprobe: Int): DataFrame = {
    val qb = queries
      .select(col(queryIdCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("cell", explode(G.cellProbes(col("q_vec"), cents.toSeq, nprobe)))
    // bounded by Q × nprobe — the partition filter for the single scan
    val cells = qb.select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq
    Skipping.readParquet(spark, path)
      .filter(col("cell").isin(cells: _*))
      .join(broadcast(qb), Seq("cell"))
      .withColumn("sim", round(G.cosineSim(col(vecCol), col("q_vec")), 6))
      .drop("q_vec", "cell")
  }

  /** L2-nearest cell over a centroid literal — [[nearestCell]]'s
    * Euclidean sibling (PQ codebooks quantize in L2).
    */
  private def nearestCellL2(vec: Column, cents: Array[Seq[Float]]): Column = {
    val accType = "struct<cid:int,best:double>"
    aggregate(centroidArray(cents),
      struct(lit(-1).as("cid"), lit(Double.MaxValue).as("best")).cast(accType),
      (acc, e) => {
        val d = aggregate(zip_with(vec, e.getField("c"),
          (a, b) => (a - b) * (a - b)), lit(0.0d), (s, x) => s + x)
        when(d < acc.getField("best"),
          struct(e.getField("cid"), d).cast(accType)).otherwise(acc)
      },
      acc => acc.getField("cid"))
  }

  /** Train PRODUCT-QUANTIZATION codebooks (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the vector
    * is split into `m` subvectors and each subspace gets its own
    * `c`-cell L2 k-means codebook. ALL subspaces train together — one
    * exploded (sub, subvec) table, one broadcast-join assignment and
    * one mean-aggregation per Lloyd round for every subspace at once —
    * so training cost does not scale with m. Returns codebooks(m)(c) =
    * subspace centroid; collected state is m·c·(dim/m) = dim·c floats,
    * tiny by construction.
    */
  def trainPqCodebooks(vectors: DataFrame, idCol: String, vecCol: String,
      m: Int, c: Int, iters: Int = 2): Array[Array[Seq[Float]]] = {
    val base = vectors.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // read once per Lloyd round; a single seed pass + iters encode
    // passes otherwise re-scan the input
    val cached = if (iters > 1) cacheOnce(base) else base
    // deterministic seeds: the first c VECTORS in (xxhash64(id), id)
    // order — one TakeOrdered over n rows, sliced into every subspace
    // driver-side. (Per-subspace seed order equals the id order, so
    // this is exactly the per-subspace window it replaces — without
    // sorting an n×m exploded subvector table.)
    val seedRows = cached.orderBy(xxhash64(col("id")), col("id")).limit(c)
      .select(col("v")).collect().map(_.getSeq[Double](0))
    require(seedRows.length == c, s"k-means needs ≥ $c rows (got ${seedRows.length})")
    val dim = seedRows.head.size
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subLen = dim / m
    var books: Array[Array[Seq[Float]]] = Array.tabulate(m)(s =>
      seedRows.map(v => v.slice(s * subLen, (s + 1) * subLen)
        .map(_.toFloat).toSeq))
    for (_ <- 1 to iters) {
      // assignment IS the encoder: [[withPqCodes]]'s plan-reference
      // kernel encodes all m subspaces in one projection pass (no
      // n×m×c join fan-out, constant-size plan at any codebook), and
      // the per-(subspace, cell, position) means come off one
      // map-side-combined aggregation over m·c·subLen groups
      val coded = withPqCodes(cached, "id", "v", books)
      val means = coded
        .select(explode(array((0 until m).map(i =>
          struct(lit(i).as("sub"),
            element_at(col("codes"), i + 1).as("cell"),
            slice(col("v"), i * subLen + 1, subLen).as("sv"))): _*)).as("e"))
        .select(col("e.sub").as("sub"), col("e.cell").as("cell"),
          posexplode(col("e.sv")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cell"), col("pos"))
        // exact fixed-point LONG mean — partition-order-free,
        // codegen-native, and overflow-CHECKED: see trainCentroids
        .agg(try_sum((col("x") * 1e12).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect() // m·c·subLen rows — driver-side by design
        .groupBy(r => (r.getAs[Int]("sub"), r.getAs[Int]("cell")))
        .map { case ((s, cell), rows) =>
          (s, cell) -> rows.sortBy(_.getAs[Int]("pos"))
            .map(fpMean(_, "trainPqCodebooks").toFloat).toSeq
        }
      books = Array.tabulate(m)(s =>
        books(s).zipWithIndex.map { case (old, i) => means.getOrElse((s, i), old) })
    }
    if (iters > 1) cached.unpersist()
    books
  }

  /** Encode a vector as its `m` codebook cell ids (the PQ code:
    * m·log2(c) bits — 8 bytes here vs 256 for the raw floats).
    */
  def pqEncode(vec: Column, books: Array[Array[Seq[Float]]]): Column = {
    val subLen = books(0)(0).size
    array(books.zipWithIndex.map { case (cb, i) =>
      nearestCellL2(slice(vec, i * subLen + 1, subLen), cb)
    }: _*)
  }

  /** Historical regime boundary (same story as [[LiteralMaxCells]]),
    * kept for the differential specs: below it the codebook-literal
    * [[pqEncode]] was the default, above it the broadcast-join
    * [[pqCodesJoin]]. Both are superseded as the production path by the
    * plan-reference kernel ([[graft.functions.PqEncodeCodes]] — one
    * projection, codebooks prepared into primitive arrays once per
    * executor, no join shuffles); they remain as independently-written
    * baselines the specs hold the kernel byte-identical to.
    */
  private[graft] val LiteralMaxCodebook = 256

  /** PQ encoding as a broadcast join: each vector explodes into its m
    * subvectors, meets the m·c-row codebook relation on the REAL
    * equi-key `sub` (a BroadcastHashJoin), and `min_by` takes the
    * per-(vector, subspace) L2 argmin with [[nearestCellL2]]'s
    * tie-break (lowest distance, then lowest cid). The codes array is
    * reassembled in subspace order and joined back on the id. Shuffles
    * carry (id, sub, small ints) — never the codebook, never the raw
    * vectors.
    */
  private[graft] def pqCodesJoin(df: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[Seq[Float]]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val m = books.length
    val subLen = books(0)(0).size
    val bookDf = broadcast(books.toSeq.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (cv, i) => (s, i, cv) }
    }.toDF("_sub", "_cid", "_cv"))
    val subs = df.select(col(idCol), explode(array((0 until m).map(i =>
        struct(lit(i).as("s"),
          slice(col(vecCol), i * subLen + 1, subLen).as("sv"))): _*)).as("_e"))
      .select(col(idCol), col("_e.s").as("_sub"), col("_e.sv").as("_sv"))
    val d = aggregate(zip_with(col("_sv"), col("_cv"),
      (a, b) => (a - b) * (a - b)), lit(0.0d), (s, x) => s + x)
    val codes = subs.join(bookDf, Seq("_sub"))
      .select(col(idCol), col("_sub"), col("_cid"), d.as("_d"))
      .groupBy(col(idCol), col("_sub"))
      .agg(min_by(col("_cid"), struct(col("_d"), col("_cid"))).as("_code"))
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("_sub"), col("_code")))),
        s => s.getField("_code")).as("codes"))
    df.join(codes, Seq(idCol))
  }

  /** Adds the `codes` column via the plan-reference kernel
    * ([[graft.functions.PqEncodeCodes]]): a pure projection at any
    * m·c — no join, no shuffle, codebooks prepared once per executor.
    * Spec-held byte-identical to both superseded forms (the
    * codebook-literal [[pqEncode]] and the broadcast-join
    * [[pqCodesJoin]]), tie-breaks included.
    */
  def withPqCodes(df: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[Seq[Float]]]): DataFrame =
    df.withColumn("codes",
      G.pqEncodeCodes(col(vecCol), books.toSeq.map(_.toSeq)))

  /** Asymmetric distance computation (ADC): the query stays exact, the
    * corpus is its codes — score = Σ_m LUT[m][code_m], where LUT holds
    * the query-subvector · codebook-centroid dot products (computed
    * once, driver-side, m·c doubles). With L2-normalized inputs the
    * score approximates cosine; the standard use is top-N candidates
    * by ADC then exact re-rank of those only.
    */
  def pqScore(codes: Column, lut: Array[Array[Double]]): Column =
    lut.zipWithIndex.map { case (row, i) =>
      element_at(typedlit(row.toSeq), element_at(codes, i + 1) + 1)
    }.reduce(_ + _)

  // ---- SQ8 scalar quantization (faiss's ScalarQuantizer QT_8bit) ----

  /** Train SQ8 bounds: per-DIMENSION [min, max] over the corpus — ONE
    * map-side-combined aggregation (dim groups), collected state is
    * 2·dim doubles. Where PQ learns a geometry, SQ8 just spans each
    * dimension — no iterations, no codebooks, and 4× the corpus
    * compression of raw floats with one uniform byte per dimension.
    */
  def trainSqBounds(vectors: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val rows = vectors
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect() // dim rows — driver-side by design
    val dim = rows.length
    val mins = new Array[Double](dim)
    val maxs = new Array[Double](dim)
    rows.foreach { r =>
      val p = r.getAs[Int]("pos")
      mins(p) = r.getAs[Double]("mn")
      maxs(p) = r.getAs[Double]("mx")
    }
    (mins, maxs)
  }

  /** Encode a vector to one byte per dimension:
    * code_i = round((x_i − min_i)/span_i · 255), clamped to [0, 255]
    * (out-of-range values from drifted inputs saturate, zero-span
    * dimensions encode 0). Codegen'd index-lambda transform — the
    * bounds ride as array literals (2·dim doubles, configuration-sized
    * like the toy-C centroid literals; they never grow with the data).
    */
  def sqEncode(vec: Column, mins: Array[Double], maxs: Array[Double]): Column = {
    val minsC = typedlit(mins.toSeq)
    val spanC = typedlit(mins.indices.map(i =>
      math.max(maxs(i) - mins(i), 0.0)).toSeq)
    transform(vec.cast("array<double>"), (x, i) => {
      val mn = element_at(minsC, i + 1)
      val sp = element_at(spanC, i + 1)
      when(sp > 0,
        least(greatest(round((x - mn) / sp * 255).cast("int"), lit(0)), lit(255)))
        .otherwise(lit(0))
    })
  }

  /** SQ8 asymmetric score: decode_i = min_i + code_i·span_i/255, so
    * q·decode = Σ q_i·min_i (a CONSTANT) + Σ (q_i·span_i/255)·code_i —
    * the per-query weights fold driver-side and the row work collapses
    * to one small-int dot product. No lookup table at all (PQ's LUT
    * exists because its cells are vectors; SQ8's "cells" are scalars).
    */
  def sqScore(codes: Column, query: Seq[Double],
      mins: Array[Double], maxs: Array[Double]): Column = {
    val const = query.indices.map(i => query(i) * mins(i)).sum
    val w = query.indices.map(i =>
      query(i) * math.max(maxs(i) - mins(i), 0.0) / 255.0)
    // codegen'd seeded dot over the (int->double cast) codes — the
    // zip_with/aggregate pair evaluated interpreted per row
    G.dotLit(codes.cast("array<double>"), w) + lit(const)
  }

  /** Decode back to the approximate vector (spec tooling: the
    * quantization error contract |x − decode(encode(x))| ≤ span/510
    * per dimension is asserted on real data).
    */
  def sqDecode(codes: Column, mins: Array[Double], maxs: Array[Double]): Column = {
    val minsC = typedlit(mins.toSeq)
    val spanC = typedlit(mins.indices.map(i =>
      math.max(maxs(i) - mins(i), 0.0)).toSeq)
    transform(codes, (c, i) =>
      element_at(minsC, i + 1) + c * element_at(spanC, i + 1) / 255.0)
  }

  /** Materialize the FULL IVF-PQ index: PQ codes partitioned by
    * Voronoi cell (`<path>/codes/cell=N/`, each row id + 8 small ints)
    * beside a full-vector side table (`<path>/vectors/`) used only to
    * re-rank finalists. A probe therefore reads nprobe/C of the CODES —
    * which are ~32× smaller than the embeddings — and touches real
    * vectors only for the shortlist: the two multiplicative I/O savings
    * that make billion-vector ANN serveable from object storage.
    */
  def buildIvfPqIndex(vectors: DataFrame, idCol: String, vecCol: String,
      cents: Array[Seq[Float]], books: Array[Array[Seq[Float]]],
      path: String): Unit = {
    // codegen'd normalize kernel (see a10Normalized) — one call per row
    // in place of the interpreted fold/filter/transform chain
    val normed = vectors
      .withColumn("_nv", G.l2Normalize(col(vecCol).cast("array<double>")))
      .filter(col("_nv").isNotNull)
    val assigned = withNearestCell(
      normed.select(col(idCol), col(vecCol), col("_nv")), idCol, vecCol, cents)
    withPqCodes(assigned, idCol, "_nv", books)
      .select(col(idCol), col("cell"), col("codes"))
      // co-locate each cell before the partitioned write: without this
      // every write task splits across every cell — C × tasks tiny
      // files, whose open/list cost dominates both the build and every
      // later probe (the small-files problem at index scale)
      .repartition(cents.length, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    normed.select(col(idCol), col("_nv").as("nv"))
      .coalesce(math.max(1, cents.length / 2))
      .write.mode("overwrite").parquet(s"$path/vectors")
  }

  /** Probe the IVF-PQ index: nprobe cells planned as a partition
    * filter on the CODES table, ADC shortlist of `shortlist` ids, full
    * vectors joined back for those ids only, exact cosine out.
    */
  def probeIvfPqIndex(spark: SparkSession, path: String, queryVec: Seq[Double],
      cents: Array[Seq[Float]], books: Array[Array[Seq[Float]]],
      nprobe: Int, shortlist: Int, idCol: String): DataFrame = {
    val subLen = books(0)(0).size
    val lut = books.zipWithIndex.map { case (cb, i) =>
      cb.map(cent => cent.zipWithIndex.map { case (x, j) =>
        x * queryVec(i * subLen + j)
      }.sum.toDouble)
    }
    // nprobe nearest cells by cosine to the (tiny) centroid array
    val cells = cents.zipWithIndex.map { case (cv, i) =>
      val dot = cv.zipWithIndex.map { case (x, j) => x * queryVec(j) }.sum
      val n = math.sqrt(cv.map(x => x.toDouble * x).sum)
      (if (n > 0) dot / n else -2.0, i)
    }.sortBy(-_._1).take(nprobe).map(_._2).toSeq
    val shortIds = Skipping.readParquet(spark, s"$path/codes")
      .filter(col("cell").isin(cells: _*))
      .withColumn("adc", pqScore(col("codes"), lut))
      .orderBy(col("adc").desc, col(idCol)).limit(shortlist)
      .select(col(idCol))
    Skipping.readParquet(spark, s"$path/vectors")
      .join(shortIds, Seq(idCol))
      .withColumn("sim", round(G.dotLit(col("nv"), queryVec), 6))
      .select(col(idCol), col("sim"))
  }

  /** IVF + SQ8: the same cell-partitioned layout as
    * [[buildIvfPqIndex]] with SQ8 byte codes instead of PQ cell ids —
    * the quantization×pruning matrix's remaining cell. SQ8 needs no
    * codebook training (bounds come from one aggregation over the
    * normalized corpus), so this is the cheapest index to BUILD that
    * still gets both multiplicative probe savings: nprobe/C of the
    * codes read, 4× smaller codes than raw floats, vectors fetched
    * for the shortlist only.
    */
  def buildIvfSqIndex(vectors: DataFrame, idCol: String, vecCol: String,
      cents: Array[Seq[Float]], mins: Array[Double], maxs: Array[Double],
      path: String): Unit = {
    val normed = vectors
      .withColumn("_nv", G.l2Normalize(col(vecCol).cast("array<double>")))
      .filter(col("_nv").isNotNull)
    withNearestCell(normed.select(col(idCol), col(vecCol), col("_nv")),
        idCol, vecCol, cents)
      .select(col(idCol), col("cell"), sqEncode(col("_nv"), mins, maxs).as("codes"))
      .repartition(cents.length, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    normed.select(col(idCol), col("_nv").as("nv"))
      .coalesce(math.max(1, cents.length / 2))
      .write.mode("overwrite").parquet(s"$path/vectors")
  }

  /** Probe the IVF-SQ8 index: nprobe cells as a partition filter, the
    * LUT-free SQ-ADC shortlist ([[sqScore]]) through [[batchTopK]]'s
    * bounded heap, full vectors joined back for the shortlist only.
    */
  def probeIvfSqIndex(spark: SparkSession, path: String, queryVec: Seq[Double],
      cents: Array[Seq[Float]], mins: Array[Double], maxs: Array[Double],
      nprobe: Int, shortlist: Int, idCol: String): DataFrame = {
    val cells = cents.zipWithIndex.map { case (cv, i) =>
      val dot = cv.zipWithIndex.map { case (x, j) => x * queryVec(j) }.sum
      val n = math.sqrt(cv.map(x => x.toDouble * x).sum)
      (if (n > 0) dot / n else -2.0, i)
    }.sortBy(-_._1).take(nprobe).map(_._2).toSeq
    val scored = Skipping.readParquet(spark, s"$path/codes")
      .filter(col("cell").isin(cells: _*))
      .withColumn("adc", sqScore(col("codes"), queryVec, mins, maxs))
    val shortIds = batchTopK(scored.select(lit(0L).as("_qid"),
        col(idCol), col("adc")), "_qid", idCol, "adc", k = shortlist)
      .select(col(idCol))
    Skipping.readParquet(spark, s"$path/vectors")
      .join(shortIds, Seq(idCol))
      .withColumn("sim", round(G.dotLit(col("nv"), queryVec), 6))
      .select(col(idCol), col("sim"))
  }

  /** Cosine near-duplicate pairs via LSH bucket self-join (multi-table,
    * bucketed — never all-pairs), verified with exact cosine.
    */
  def nearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      nbits: Int, tables: Int, minCos: Double, baseSeed: Long = 42L): DataFrame = {
    val tableCols = (0 until tables).map { t =>
      struct(lit(t).as("tbl"),
        G.hyperplaneLsh(col("v"), nbits, baseSeed + t).as("bucket"))
    }
    // no fanOut: the frame is cached and read by three light consumers —
    // measured a net loss (solo a03 0.30 -> 0.48 s with it)
    val base = cacheOnce(vectors.select(col(idCol).as("id"), col(vecCol).as("v")))
    // materialization barrier (see minhashLshPairs): the bucket
    // self-join's two sides race the uncached partitions otherwise.
    // Free when warm: interleaved solo A/B on a03 read 0.41-0.46 s with
    // it, 0.39-0.48 s without, 0.62-0.68 s with fanOut before the cache.
    base.count()
    val b = base.select(col("id"), explode(array(tableCols: _*)).as("e"))
      .select(col("id"), col("e.tbl"), col("e.bucket"))
    // pair dedup on ids only; vectors rejoin after the distinct so the
    // embedding arrays never ride the pair shuffle
    val candidates = b.select(col("tbl"), col("bucket"), col("id").as("id1"))
      .join(b.select(col("tbl"), col("bucket"), col("id").as("id2")),
        Seq("tbl", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .distinct()
    candidates
      .join(base.select(col("id").as("id1"), col("v").as("v1")), Seq("id1"))
      .join(base.select(col("id").as("id2"), col("v").as("v2")), Seq("id2"))
      .withColumn("cos", round(G.cosineSim(col("v1"), col("v2")), 6))
      .filter(col("cos") >= minCos)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** Matryoshka-style two-stage search (Kusupati et al. NeurIPS'22:
    * nested-representation embeddings keep most of their signal in a
    * prefix of the dimensions): stage 1 scores EVERY row on the first
    * `coarseDims` dims only — a strictly cheaper scan — and keeps a
    * `shortlist`; stage 2 re-ranks the shortlist with full-dimension
    * exact cosine. With shortlist ≥ corpus the result provably equals
    * brute force (the oracle configuration); recall at real shortlist
    * sizes is the spec's job. The pattern generalizes: any cheap
    * monotone-ish scorer (truncated dims, int8-quantized dot, PQ ADC)
    * in stage 1, exact re-rank over an id-join in stage 2 — only the
    * shortlist's full vectors are ever fetched.
    */
  def truncatedRerank(base: DataFrame, query: DataFrame, vecCol: String,
      idCols: Seq[String], coarseDims: Int, shortlist: Int, k: Int): DataFrame = {
    requireSingleQuery(query, "truncatedRerank",
      "a per-query_id composition over batchTopK")
    val coarse = base.crossJoin(broadcast(query.select(col(vecCol).as("_qv"))))
      .withColumn("_coarse", G.cosineSim(
        slice(col(vecCol), 1, coarseDims), slice(col("_qv"), 1, coarseDims)))
      .orderBy(col("_coarse").desc, col(idCols.head))
      .limit(shortlist)
    coarse
      .withColumn("sim", round(G.cosineSim(col(vecCol), col("_qv")), 6))
      .select((idCols.map(col) :+ col("sim")): _*)
      .orderBy(col("sim").desc, col(idCols.head))
      .limit(k)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means cluster
    * the embedding space, then inside each cluster drop every vector
    * that has a SMALLER-id neighbor with cosine ≥ `tau` (keep-first,
    * the paper's deterministic tie-break). The quadratic work is
    * confined to single Voronoi cells — the pair join's key is `cell`,
    * so cost is Σ|cell|², not n², and the cell assignment reuses the
    * IVF quantizer machinery (literal argmax at toy C, broadcast-join
    * argmax at production C). At C = 1 the clustering is degenerate
    * and the result provably equals the brute-force rule — that
    * configuration is the oracle query (d15); identical vectors always
    * share a cell, so planted duplicates are removed at ANY C.
    */
  /** IVF-cell-confined kNN GRAPH: every node's top-k cosine neighbors
    * in one job — the batch-all-nodes primitive SemDeDup-style
    * clustering, HNSW bottom-layer bootstrap, and graph-based dedup
    * sit on. Each node is replicated to its `nprobe` nearest cells
    * (probe side); neighbors live only in their PRIMARY cell (member
    * side), so a candidate pair meets in at most ONE cell — no
    * dedup pass — and the join fan-in per node is its probed cells'
    * population, never the corpus. Ranking reuses [[batchTopK]]'s
    * two-level shape (per-partition heap, then a window over ≤ k·P
    * partial rows per node). Degeneracies are the exactness
    * certificates: C=1 ⇒ the exact kNN graph (a30's DuckDB oracle),
    * and nprobe=C ⇒ brute force at any C (spec-asserted).
    */
  def knnGraph(vectors: DataFrame, idCol: String, vecCol: String,
      cents: Array[Seq[Float]], k: Int, nprobe: Int = 1): DataFrame = {
    val base = vectors.select(col(idCol), col(vecCol))
    val members = withNearestCell(base, idCol, vecCol, cents)
      .select(col("cell"), col(idCol).as("nbr_id"), col(vecCol).as("nbr_v"))
    val scored = withProbedCells(base, vecCol, cents, nprobe)
      .select(col("cell"), col(idCol).as("src_id"), col(vecCol).as("src_v"))
      .join(members, Seq("cell"))
      .filter(col("src_id") =!= col("nbr_id"))
      .withColumn("sim", round(G.cosineSim(col("src_v"), col("nbr_v")), 6))
      .select(col("src_id"), col("nbr_id"), col("sim"))
    batchTopK(scored, "src_id", "nbr_id", "sim", k)
  }

  /** NN-DESCENT kNN-graph refinement (Dong, Moses & Li, "Efficient
    * k-nearest neighbor graph construction for generic similarity
    * measures", WWW 2011): start from ANY approximate kNN graph (here:
    * [[knnGraph]]'s IVF-cell graph) and iterate the paper's one idea —
    * a neighbor of my neighbor is probably my neighbor. Each round
    * builds the UNDIRECTED neighborhood B(u) (out-edges ∪ in-edges;
    * the reverse direction is what lets information flow against the
    * graph's arrows), proposes every pair that co-occurs in some B(u),
    * exact-scores the proposals, and keeps each node's top-k of
    * old ∪ new. Out-degree is ≤ k by construction but in-degree is
    * NOT (hub nodes appear in many top-k lists — the norm in high
    * dimension), so the in-edges are capped at k per node before the
    * pair join — the paper's reverse-neighbor sampling (ρK), realized
    * as a deterministic round-seeded hash sample: edges rank on
    * xxhash64(src, nbr, round), so the kept subset rotates each round
    * like the paper's random sample (a fixed sim-ranked "best" subset
    * starves propagation of diversity and stalls convergence — see the
    * in-loop comment and NnDescentSpec measurements).
    *
    * Scale shape: with both directions capped, |B(u)| ≤ 2k for every
    * node, so a round generates Σ|B(u)|² + N·explore ≤
    * N·((2k)² + explore) candidate rows — LINEAR in N for fixed k,
    * id-only through dedup, vectors attached by two bounded id-joins —
    * where brute force is N² and the IVF all-nodes build is Θ(N^1.5).
    * `rounds` is fixed, ~log N in practice (measured S-curve on a
    * 500-point manifold from an EMPTY init: recall 0.94 @ 6 rounds,
    * 1.0 — the exact graph — @ 12; NnDescentSpec pins it; the reverse
    * cap costs ~2 rounds vs unbounded in-edges, the paper's stated
    * sampling trade). Lineage is
    * cut per round with an eager localCheckpoint, the same
    * iterative-plan hygiene as [[Graph]].
    *
    * HONESTY about when it works: descent's signal is intrinsic
    * structure (manifolds/clusters — every real embedding corpus, and
    * the paper's whole evaluation suite). On an ISOTROPIC corpus there
    * is no neighbor-of-neighbor signal — measured recall stalls near
    * the init's (the same concentration-of-measure wall as
    * [[cosinePairsExact]]'s scale notes) — and a cell-exact init is
    * propagation-closed outright (every in-cell proposal was already
    * ranked; spec-pinned bit-for-bit). The spec certificates are the
    * closure property (refining the exact graph is a no-op) and the
    * brute-force degeneracy (explore ≥ N ⇒ one round equals the exact
    * graph — the suite's degenerate-twin pattern).
    *
    * A locality-confined init (IVF cells) needs DIVERSITY to converge:
    * propagation alone can never leave the init's connected components
    * — measured recall stalls at ~0.32 from an nprobe=1 cell graph on
    * the isotropic testdata. The paper solves this with random init;
    * the distributed, deterministic equivalent here is per-round
    * EXPLORATION CLIQUES (`explore` > 0): nodes hash into buckets of
    * ~(explore+1) under a seed that CHANGES each round, and every
    * bucket proposes its internal pairs. Each round contributes
    * Θ(N·explore) geometry-blind proposals keyed on a hash column — no
    * global sort, no ring, fresh global mixing every round.
    *
    * Determinism: scores are the rounded cosine, ranking is
    * [[batchTopK]]'s (sim desc, id asc), and exploration seeds are the
    * round index, so for a deterministic `init` the refined graph is
    * bit-stable run to run.
    */
  def nnDescent(vectors: DataFrame, idCol: String, vecCol: String,
      init: DataFrame, k: Int, rounds: Int, explore: Int = 0): DataFrame = {
    val base = cacheOnce(vectors
      .select(col(idCol).as("_nid"), col(vecCol).as("_nv"))
    ) // two id-joins per round read it
    // one bounded driver action to size the exploration buckets (same
    // class as trainCentroids' seed collect); never taken at explore=0
    val nBuckets: Long =
      if (explore > 0) math.max(1L, base.count() / (explore + 1)) else 1L
    var g = init.select(col("src_id"), col("nbr_id"), col("sim"))
    for (rnd <- 1 to rounds) {
      val edges = g.select(col("src_id"), col("nbr_id"))
      // Reverse-neighbor cap (the paper's ρK reverse SAMPLING): out-
      // degree is ≤ k by construction, but in-degree is unbounded — a
      // hub node appearing in many top-k lists would otherwise make
      // |B(hub)| ~ N and the propagation self-join below Θ(N²).
      // Keeping k in-edges per node bounds |B(u)| ≤ 2k for every node,
      // which is what makes the stated Σ|B(u)|² ≤ N·(2k)² round bound
      // actually hold; hubness is the norm in high-dim kNN graphs, so
      // this is the scale path, not an edge case. The kept subset is a
      // round-seeded hash sample (rank on xxhash64(edge, round)) — the
      // deterministic form of the paper's RANDOM sampling: a fixed
      // "best" subset would starve propagation of diversity (measured:
      // top-k-by-sim capping stalls the manifold convergence spec at
      // ~0.95), while rotating the sample each round restores it.
      // Capping only removes proposals, so the closure and brute-force
      // degeneracy certificates are untouched.
      val rev = batchTopK(
        g.select(col("nbr_id").as("src_id"), col("src_id").as("nbr_id"))
          .withColumn("_h",
            xxhash64(col("src_id"), col("nbr_id"), lit(rnd.toLong))),
        "src_id", "nbr_id", "_h", k)
        .select(col("src_id"), col("nbr_id"))
      val und = edges.union(rev)
      val propagated = und.select(col("src_id").as("_u"), col("nbr_id").as("_x"))
        .join(und.select(col("src_id").as("_u"), col("nbr_id").as("_y")), Seq("_u"))
        .filter(col("_x") =!= col("_y"))
        .select(col("_x").as("src_id"), col("_y").as("nbr_id"))
      val proposals =
        if (explore == 0) propagated
        else {
          val ids = base.select(col("_nid")).withColumn("_bkt",
            pmod(xxhash64(col("_nid"), lit(rnd.toLong)), lit(nBuckets)))
          val cliques = ids.select(col("_bkt"), col("_nid").as("src_id"))
            .join(ids.select(col("_bkt"), col("_nid").as("nbr_id")), Seq("_bkt"))
            .filter(col("src_id") =!= col("nbr_id"))
            .select(col("src_id"), col("nbr_id"))
          propagated.union(cliques)
        }
      val cand = proposals
        .distinct() // id-only until here; ≤ N·((2k)² + explore) rows before dedup
      val scoredCand = cand
        .join(base.select(col("_nid").as("src_id"), col("_nv").as("_v1")),
          Seq("src_id"))
        .join(base.select(col("_nid").as("nbr_id"), col("_nv").as("_v2")),
          Seq("nbr_id"))
        .withColumn("sim", round(G.cosineSim(col("_v1"), col("_v2")), 6))
        .select(col("src_id"), col("nbr_id"), col("sim"))
      // duplicates of a surviving edge carry the identical rounded sim,
      // so the dedup is value-stable; without it a pair present in both
      // g and the proposals would occupy two top-k heap slots
      val merged = g.unionByName(scoredCand).dropDuplicates("src_id", "nbr_id")
      g = batchTopK(merged, "src_id", "nbr_id", "sim", k)
        .select(col("src_id"), col("nbr_id"), col("sim"))
        .localCheckpoint(true)
    }
    base.unpersist()
    batchTopK(g, "src_id", "nbr_id", "sim", k) // re-emit with rank
  }

  def semDedup(vectors: DataFrame, idCol: String, vecCol: String,
      cents: Array[Seq[Float]], tau: Double,
      pairBudget: Long = 16L << 20): DataFrame = {
    require(pairBudget > 0, s"pairBudget must be positive (got $pairBudget)")
    // fanOut: the within-cell pair join inherits the PROBE side's
    // partitioning when the build side broadcasts — off a narrow scan
    // the Θ(cell²) cosine work would run on one or two tasks
    // cacheOnce + barrier (the nearDupPairs pattern): four consumers now
    // read the assignment — the per-cell count, both pair-join sides and
    // the survivor anti-join — and without the cache each would re-run
    // the CellAssign kernel over the corpus (measured: blocked-without-
    // cache lost ~0.4 s solo on d15; cached it is a wash vs the uncached
    // two-consumer original).
    val assigned = cacheOnce(withNearestCell(
        fanOut(vectors.select(col(idCol), col(vecCol))), idCol, vecCol, cents)
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("cell")))
    assigned.count()
    // Fragment-replicate blocking for the within-cell self-join: a join
    // keyed on `cell` alone puts a hot cell's Θ(cell²) cosine work under
    // ONE join key, which AQE's skew handling cannot split (it splits
    // partitions, never a single key — guide §2, one-hot-key skew). Each
    // row gets a hashed bucket in [0, B) and the pair space becomes B²
    // independent keys (cell, bi, bj): the left side replicates across
    // all bj, the right across all bi, so every within-cell pair meets
    // under exactly one composite key and the hot cell's worst task
    // holds ≤ (cnt/B)² ≤ pairBudget pairs instead of cnt². B is derived
    // per cell from the DATA (its row count vs the pair budget), not
    // from the session's core count: B = 1 — identical pair volume, no
    // replication — until a cell is genuinely hot, so small corpora pay
    // only the ≤C-row count aggregate and its broadcast.
    val bOf = greatest(lit(1L),
      ceil(count(lit(1)) / lit(math.sqrt(pairBudget.toDouble))))
    val cellB = broadcast(assigned.groupBy("cell")
      .agg(bOf.cast("int").as("_B")))
    val withB = assigned.join(cellB, Seq("cell"))
    val bkt = pmod(xxhash64(col("id")), col("_B").cast("long")).cast("int")
    val left = withB.select(col("cell"), col("id").as("id1"),
      col("v").as("v1"), bkt.as("_bi"),
      explode(sequence(lit(0), col("_B") - 1)).as("_bj"))
    val right = withB.select(col("cell"), col("id").as("id2"),
      col("v").as("v2"),
      explode(sequence(lit(0), col("_B") - 1)).as("_bi"), bkt.as("_bj"))
    val dropped = left
      .join(right, Seq("cell", "_bi", "_bj"))
      .filter(col("id1") < col("id2"))
      .filter(round(G.cosineSim(col("v1"), col("v2")), 6) >= tau)
      .select(col("id2").as("id"))
      .distinct()
    assigned.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("cell"))
  }
}
