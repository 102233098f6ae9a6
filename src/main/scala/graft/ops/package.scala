package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

package object ops {

  /** Idempotent `.cache()`: marks the frame for caching only when its
    * plan is not already marked. Operators that cache a shared
    * intermediate at CONSTRUCTION time (shingle sketches, signature
    * frames) get re-built whenever a query is planned twice in one
    * session — plan-audit passes, the AQE-off codegen count, a user
    * composing two ops over the same input — and a bare `.cache()` on
    * the second build makes CacheManager WARN "Asked to cache already
    * cached data" while changing nothing. The storageLevel guard keeps
    * the call a true no-op.
    */
  private[graft] def cacheOnce(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df else df.cache()

  /** Widen a NARROW input for a CPU-heavy per-row kernel (shingling,
    * L2-normalization, quantizer encode): a small parquet table arrives
    * as ONE task (single row group — unsplittable below the file level,
    * and openCostInBytes folds small files into few splits), which
    * serializes work that is embarrassingly parallel — the
    * "one huge unsplittable file" input-skew case of the optimization
    * guide (§2.5: repartition immediately after the read). Round-robins
    * up to the session's default parallelism ONLY when the frame is
    * narrower; at real scale the scan already carries at least that
    * many partitions and this is the identity — no exchange is added,
    * so the fix cannot pessimize the 100 TB plan. Deterministic:
    * sortBeforeRepartition (on by default) pins the row→partition
    * assignment, and every caller's output is insensitive to row order
    * (counts/min/max aggs, total-ordered top-k, or exact DECIMAL sums).
    *
    * The narrow-input test is STATS-based (the SUM OF LEAF-relation
    * sizes against a FIXED 1 GiB bound), NOT `df.rdd.getNumPartitions`:
    * converting to an RDD posts a query-execution event, and a caller's
    * single-shot `Observation` listener (DataMetrics.observed) would
    * consume that event's empty metrics instead of the real action's
    * (CorpusPipelineSpec caught exactly this). Planning-only stats fire
    * no listener. The bound is deliberately NOT derived from the
    * session's core count: plan shape must be a function of the data
    * alone, or PlanArtifactSpec sessions with different parallelism
    * would disagree with the committed plan audit. Anything whose base
    * inputs total under 1 GiB is "narrow" on any sensible config (at
    * most ~8 default-size splits) and costs nothing to round-robin;
    * inputs past it get their parallelism from file splitting, so the
    * exchange is skipped. A frame whose leaf size is unknown
    * ([[leafBytes]] gives None) is left as is, like a wide one.
    *
    * Leaf sizes, not the frame's own estimate: every call site wraps a
    * pre-kernel ROW frame (scans, filters, 1:1 unions/joins of base
    * tables — never an exploded or pair frame), so the true frame size
    * is bounded by its base inputs, which leaf stats report exactly
    * (file bytes). The frame's own `stats.sizeInBytes`, by contrast,
    * MULTIPLIES through join lineage: d11/d16's corpus (a 1:1
    * planted-contamination join) was estimated at 39.7 GB against
    * 1.8 MB of actual leaf bytes, silently turning fanOut into the
    * identity — d16's finalized plan (`graft.Bench plan`) showed its whole
    * gram-explode + bloom-probe kernel (860 ms pipeline) running on the
    * 2 tasks of the raw union instead of 32.
    */
  private[graft] def fanOut(df: DataFrame): DataFrame = leafBytes(df) match {
    case Some(b) if b < (1L << 30) =>
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    case _ => df
  }

  /** Bytes under the optimized plan's leaf relations: post-pruning file
    * sizes for parquet scans, materialized sizes for cached frames and
    * for checkpoints of planned frames. None when any leaf has no static
    * size: a frame built over a raw RDD carries the optimizer's
    * unknown-size sentinel (`spark.sql.defaultSizeInBytes`, Long.MaxValue
    * by default), so any leaf at or past 1 TiB, or whose stats throw,
    * makes the whole frame unknown instead of a sum poisoned by the
    * sentinel.
    */
  private[graft] def leafBytes(df: DataFrame): Option[Long] = {
    val sizes = df.queryExecution.optimizedPlan.collectLeaves().map { leaf =>
      try leaf.stats.sizeInBytes catch { case NonFatal(_) => BigInt(-1) }
    }
    if (sizes.exists(s => s < 0 || s >= (BigInt(1L) << 40))) None
    else Some(sizes.sum.toLong)
  }
}
