package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the step that
  * turns near-duplicate PAIRS (d02/d03/d06 output) into deduplication
  * CLUSTERS. Without it a dedup pipeline under-removes: A≈B and B≈C
  * pairs must collapse into one {A,B,C} cluster even when A-C alone
  * falls below the similarity threshold.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14). Each round
  * is two key-sized shuffles (a groupBy-min and a join); the edge set
  * converges to a forest of stars centered at each component's minimum
  * node in O(log²·) rounds — unlike naive label propagation this does
  * NOT degrade to O(diameter) rounds on chain-shaped graphs, which is
  * exactly the shape long mutation chains of near-dups produce.
  *
  * Scale notes (100 TB): state per round is the edge list itself —
  * no driver-side structure, no collect. Lineage is truncated every
  * round with an eager localCheckpoint (on a real cluster: reliable
  * checkpoint dir); convergence is detected with a count+hash
  * checksum action per round (cheap: runs on the just-checkpointed
  * edge set).
  *
  * Reference ships only exact content-hash dedup
  * (`agrobr/models.py:177-186`); transitive closure of near-dup pairs
  * is part of the training-pipeline brief.
  */
object Graph {

  private def largeStar(e: DataFrame): DataFrame = {
    // no leading distinct: the round's input is already a distinct
    // DIRECTED edge set (the initial normalization or smallStar's
    // trailing distinct), so e ∪ reverse(e) cannot repeat a pair except
    // when the INITIAL input carried both orientations — and duplicates
    // are harmless anyway (mins is a min-aggregate, and smallStar — the
    // only consumer — dedups first thing). Dropping it removes one full
    // edge-set exchange + aggregate per round (guide §2.4).
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
      .filter(col("u") =!= col("v"))
    // m(u) = min of the closed neighborhood of u
    val mins = sym.groupBy(col("u"))
      .agg(least(min(col("v")), first(col("u"))).as("m"))
    // connect every LARGER neighbor of u to m(u). No trailing distinct:
    // the only consumer (smallStar, always next in the round) re-orients
    // and dedups first thing, so a distinct here is one pure-overhead
    // shuffle per round (measured below in the loop comment)
    sym.filter(col("v") > col("u"))
      .join(mins, Seq("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
    // (measured at sf0.1: ~neutral wall-clock — AQE had already shrunk
    // the tiny shuffle — but at real edge counts this is one full
    // edge-set exchange per round that existed only to be re-deduped)
  }

  private def smallStar(e: DataFrame): DataFrame = {
    // orient every edge large→small, group by the large end
    val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
    // connect u and all its (smaller) neighbors to the minimum
    dir.join(mins, Seq("u"))
      .select(explode(array(
        struct(col("v").as("u"), col("m").as("v")),
        struct(col("u").as("u"), col("m").as("v")))).as("e"))
      .select(col("e.u"), col("e.v"))
      .filter(col("u") =!= col("v")).distinct()
  }

  /** Order-independent checksum of an edge set — one action per round.
    * A 64-bit collision between consecutive DIFFERENT edge sets would
    * stop iteration early; the spec's union-find equality check (and
    * d08's DuckDB oracle) would surface it.
    */
  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Connected components of an undirected edge list.
    *
    * @param edges two integral columns (src, dst); self-loops ignored.
    * @return (id, component) for every node that appears in `edges`,
    *         where `component` is the minimum node id of its component.
    *         Isolated nodes (no edges) don't appear — union the input
    *         ids back in if singleton clusters are wanted.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    var e = edges.toDF("u", "v")
      .select(col("u").cast("long"), col("v").cast("long"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    var sum = checksum(e)
    // no small-graph narrowing: measured 25% SLOWER with coalesce(1)
    // on a 2k-edge graph — AQE already collapses the tiny shuffles,
    // and single-partition rounds forfeit intra-round parallelism
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      e = smallStar(largeStar(e)).localCheckpoint(true)
      val next = checksum(e)
      converged = next == sum
      sum = next
      round += 1
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")
    // converged edge set is large→small stars rooted at component minima:
    // every non-root points at its root; roots label themselves
    // no distinct: the labeling agg is min-based, duplicate-insensitive
    val sym = e.union(e.select(col("v"), col("u")))
      .filter(col("u") =!= col("v"))
    sym.groupBy(col("u").as("id"))
      .agg(least(min(col("v")), first(col("u"))).as("component"))
  }

  /** Near-dup clusters from a pair list: components plus per-cluster
    * membership rollup (cluster id = min doc id, the d01 convention).
    */
  def nearDupClusters(pairs: DataFrame, id1: String = "id1", id2: String = "id2"): DataFrame =
    connectedComponents(pairs.select(col(id1), col(id2)))
      .groupBy(col("component").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        array_join(array_sort(collect_list(col("id"))), ",").as("doc_ids"))

  /** PageRank over a DIRECTED edge list, in 64-bit fixed-point integer
    * arithmetic so the result is bit-identical on any engine — float
    * PageRank is not portable (sum order + rounding drift compound per
    * iteration); integer floor-division is.
    *
    * rank is carried in units of `1/scale`: r0 = scale div n, then each
    * iteration r'(v) = (100-damp)·scale div (100·n)
    *                   + damp·Σ_{u→v}(r(u) div outdeg(u)) div 100.
    * All values stay positive and far below 2^63 (sums are bounded by
    * the total mass ≈ `scale`), so Spark's `div` and any floor/truncate
    * integer division agree exactly. The truncated remainders mean total
    * mass shrinks by < n units per iteration — the documented tradeoff
    * for cross-engine exactness. Dangling nodes (outdeg 0) leak their
    * mass, the classic simplified formulation.
    *
    * Scale notes (100 TB): per iteration, one join of the edge list
    * against the rank table (node-sized — AQE broadcasts it while it
    * fits; shuffle-hash on `src` beyond that) and one dst-keyed
    * aggregation, both edge-partitioned; no driver state of any size.
    * The edge+outdeg table is localCheckpoint-ed once so k iterations
    * scan it k times instead of rebuilding it k times.
    */
  def pageRank(edges: DataFrame, iterations: Int = 3, damp: Int = 85,
      scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1 && damp >= 0 && damp <= 100)
    val e = edges.toDF("src", "dst")
      .select(col("src").cast("long"), col("dst").cast("long"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // node count rides along as a column (single-row cross join stays a
    // broadcast); no driver-side count action.
    // A bare localCheckpoint, keeping AQE's coalesced layout (2-4
    // tasks per iteration stage at sf0.1 on 32 cores): widening it to
    // the session parallelism costs ~15% (interleaved solo A/B, q61
    // 2.48-2.66 s narrow vs 2.88-3.16 s widened), since the serial CPU
    // chunks are ≤0.25 s. At real edge counts AQE stops coalescing the
    // byte-large builder shuffles, so the layout is wide on its own.
    val n = nodes.crossJoin(nodes.agg(count(lit(1)).as("n")))
      .localCheckpoint(true)
    val ed = e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .localCheckpoint(true)
    var ranks = n.select(col("node"), expr(s"$scale div n").as("rank"))
    for (_ <- 1 to iterations) {
      val sums = ed.join(ranks, ed("src") === ranks("node"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("sc"))
      ranks = n.join(sums, n("node") === sums("dst"), "left")
        .select(col("node"),
          (expr(s"(${100 - damp} * ${scale}L) div (100 * n)") +
            expr(s"($damp * coalesce(sc, 0L)) div 100")).as("rank"))
    }
    ranks
  }

  /** Flatten a forest (child→parent pointers) to per-node root and
    * depth — the recursive-CTE workload (org charts, BOM explosions,
    * category trees) Spark SQL has no native construct for. POINTER
    * DOUBLING instead of one-level-per-round walking: each round joins
    * the ancestor table with itself (`anc ⇐ anc(anc)`, distances add),
    * so a depth-d hierarchy settles in ⌈log₂ d⌉ rounds, not d — at a
    * 100 TB BOM with million-deep chains that is 20 rounds, not a
    * million. State is one row per node throughout; per-round
    * localCheckpoint truncates lineage; a cycle (not a forest) fails
    * the maxRounds require rather than looping forever.
    *
    * @param nodes (node, parent) with parent NULL for roots.
    * @return (node, root, depth) for every input node.
    */
  def flattenHierarchy(nodes: DataFrame, maxRounds: Int = 40): DataFrame = {
    val nn = nodes.toDF("node", "parent")
      .select(col("node").cast("long"), col("parent").cast("long"))
    // The doubling join would silently DROP a node whose parent id is
    // absent from the input (the pending row matches nothing, remaining
    // decreases, the loop "converges" minus that subtree). Dangling
    // pointers are a data bug, not a shape to paper over — fail up
    // front with a count, one anti-join action before the loop.
    val dangling = nn.filter(col("parent").isNotNull)
      .join(nn.select(col("node").as("__p")), col("parent") === col("__p"),
        "left_anti").count()
    require(dangling == 0,
      s"$dangling node(s) point at a parent absent from the input — " +
        "not a forest over the node set")
    var h = nn
      .select(col("node"),
        coalesce(col("parent"), col("node")).as("anc"),
        when(col("parent").isNull, lit(0L)).otherwise(lit(1L)).as("depth"),
        col("parent").isNull.as("done"))
      .localCheckpoint(true)
    var round = 0
    var remaining = h.filter(!col("done")).count()
    while (remaining > 0 && round < maxRounds) {
      val anc = h.select(col("node").as("a_node"), col("anc").as("a_anc"),
        col("depth").as("a_depth"), col("done").as("a_done"))
      // The ancestor side is node-sized every round; the PENDING side
      // shrinks geometrically. Once the frontier fits a broadcast, the
      // round's join becomes a shuffle-FREE scan of the checkpointed
      // state (BHJ: frontier built once, node table streamed) instead
      // of two node-sized exchanges into however many shuffle
      // partitions the session runs — which is what made small-frontier
      // rounds stage-latency-bound and inverted local strong scaling
      // (COMPUTE.md q65). `remaining` is already counted per round, so
      // the gate is free; the row bound keeps driver/executor broadcast
      // memory trivially small (4 longs/row ≈ 32 MB at the cap).
      val pending = h.filter(!col("done"))
      val pendingJ =
        if (remaining <= 1000000L) broadcast(pending) else pending
      // The union stacks the join's partitions on top of the carried
      // done-set's EVERY round (p, 2p, 3p, ...), so without a cap each
      // checkpoint job launches more — mostly empty — tasks than the
      // last; coalesce (narrow, no shuffle) pins the per-round task
      // count to the core count, which is what keeps doubling rounds
      // latency-flat as the round index grows.
      val parts = math.max(1,
        nodes.sparkSession.sparkContext.defaultParallelism)
      h = pendingJ
        .join(anc, col("anc") === col("a_node"))
        .select(col("node"), col("a_anc").as("anc"),
          (col("depth") + col("a_depth")).as("depth"), col("a_done").as("done"))
        .union(h.filter(col("done")))
        .coalesce(parts)
        .localCheckpoint(true)
      remaining = h.filter(!col("done")).count()
      round += 1
    }
    require(remaining == 0,
      s"hierarchy did not flatten in $maxRounds doubling rounds (cycle?)")
    h.select(col("node"), col("anc").as("root"), col("depth"))
  }

  /** Exact triangle count of an undirected graph by degree-ordered
    * orientation (the classic O(m^{3/2}) bound): every edge is oriented
    * from its (degree, id)-smaller endpoint, wedges are enumerated at
    * each vertex over its OUT-neighbors only — max out-degree is
    * O(√m) whatever the degree skew, so a celebrity node with millions
    * of followers contributes √m wedges, not millions² — and a wedge
    * is a triangle iff its two endpoints are themselves an edge
    * (one hash join against the undirected edge set).
    *
    * Returns one row: (n_nodes, n_edges, n_triangles). The count is
    * orientation-independent (each triangle is counted exactly once, at
    * its order-minimal vertex), which is what lets a naive id-ordered
    * SQL oracle agree with the degree-ordered distributed plan.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    // bare localCheckpoint on purpose — the re-widened variant lost
    // the interleaved A/B at sf0.1 (see pageRank's note; q62
    // 2.17/1.99/2.07 s narrow vs 2.73/3.13/2.66 s widened)
    val e0 = edges.toDF("x", "y")
      .select(least(col("x"), col("y")).cast("long").as("a"),
        greatest(col("x"), col("y")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    val deg = e0.select(col("a").as("node")).union(e0.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val wd = e0
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    // ONE hash-partitioned materialization of the oriented edge list,
    // reused by both sides of the wedge self-join: localCheckpoint
    // preserves the physical HashPartitioning(u) in the LogicalRDD, so
    // the self-join plans with zero exchanges (both sides are already
    // co-partitioned on the join key) instead of re-shuffling the edge
    // list twice — the wedge join is the volume peak of the whole
    // query, so this is where exchange savings matter at scale.
    val oriented = wd.select(
      when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .repartition(col("u"))
      .localCheckpoint(true)
      // (the wedge join below runs as ONE task at sf0.1 — its whole
      // serial CPU is ~0.24 s, and the keyed re-widening of this
      // checkpoint lost the interleaved A/B; see pageRank's note)
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.v").as("p"), col("y.v").as("q")) // p < q by id
    val tri = wedges.join(e0, col("p") === col("a") && col("q") === col("b"))
      .agg(count(lit(1)).as("n_triangles"))
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(e0.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri)
  }
}
