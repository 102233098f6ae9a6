package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}

/** Bloom-filter join reduction on Spark's own `bloom_filter_agg` and
  * `might_contain` (the expressions behind
  * `spark.sql.optimizer.runtimeFilter.*`), placed explicitly.
  *
  * [[gate]] is lazy: the filter is a scalar subquery over the build
  * side, planned, run and reused by the optimizer with the query that
  * consumes it, so building a gated frame runs no Spark job, collects
  * nothing to the driver and pins no cache. Probe rows that fail the
  * test are dropped before any exchange; false positives are possible
  * and harmless because every caller runs the exact join after the
  * gate.
  *
  * [[Filter]] is the separate JVM-side bloom an always-on sink grows
  * incrementally ([[union]]) and probes per element
  * ([[Filter.mightContainString]]).
  */
object Bloom {

  /** Spark's `bloom_filter_agg` over `xxhash64(key)`: one mergeable
    * aggregate whose value is the serialized filter, null over an empty
    * input. `expectedItems` sizes the filter; without it the filter
    * takes Spark's `spark.sql.optimizer.runtime.bloomFilter.*` defaults.
    */
  def filterAgg(key: Column, expectedItems: Option[Long] = None): Column = {
    val h = ColumnBridge.expression(xxhash64(key))
    val agg = expectedItems.fold(new BloomFilterAggregate(h))(n =>
      new BloomFilterAggregate(h, math.max(1L, n)))
    ColumnBridge.column(agg.toAggregateExpression())
  }

  /** `might_contain(filter, xxhash64(key))`: false ⇒ `key` is definitely
    * absent. `filter` is a [[filterAgg]] scalar subquery or its value as
    * a literal; a null filter (empty build side) admits nothing.
    */
  def mightContain(filter: Column, key: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      ColumnBridge.expression(filter), ColumnBridge.expression(xxhash64(key))))

  /** `key`, of type `from`, as a value to hash against keys of type
    * `to` — xxhash64 is type-sensitive. `try_cast`: a value the cast
    * cannot carry equals no key of type `to`, and its null costs at
    * most a false positive. A string against a non-string is rejected,
    * because `=` compares that pair at the non-string type and no one
    * hash serves both sides.
    */
  private[graft] def keyAs(key: Column, from: DataType, to: DataType): Column = {
    require(from.isInstanceOf[StringType] == to.isInstanceOf[StringType],
      s"bloom keys must both be strings or neither: $from against $to")
    if (from == to) key else key.try_cast(to)
  }

  /** `probe` rows whose `probeKey` may occur in `build`'s `buildKey`,
    * the probe key hashed at the build key's type ([[keyAs]]).
    */
  def gate(probe: DataFrame, probeKey: String, build: DataFrame,
      buildKey: String, expectedItems: Option[Long] = None): DataFrame = {
    def keyType(df: DataFrame, c: String): DataType = df.select(col(c)).schema.head.dataType
    val filter = build.select(filterAgg(col(buildKey), expectedItems)).scalar()
    probe.filter(mightContain(filter,
      keyAs(col(probeKey), keyType(probe, probeKey), keyType(build, buildKey))))
  }

  /** Bloom-pruned inner equi-join: the [[gate]] over `buildDf`, then the
    * exact join, so the result equals `probe.join(buildDf, keys)` with a
    * fraction of the probe rows entering the join. `nBuildRows` sizes
    * the filter.
    */
  def prunedJoin(probe: DataFrame, buildDf: DataFrame, probeKey: String,
      buildKey: String, nBuildRows: Option[Long] = None): DataFrame =
    gate(probe, probeKey, buildDf, buildKey, nBuildRows)
      .join(buildDf, probe(probeKey) === buildDf(buildKey))

  /** A JVM-side bit table: k probes per key (Catalyst xxhash64 chained
    * from seed 42 over (key, i), then pmod mBits), bits packed in longs.
    */
  final case class Filter(words: Array[Long], mBits: Long, k: Int) {

    /** Fraction of set bits. The classic estimates follow: FP rate ≈
      * fill^k, and the distinct-key count that produced the fill is
      * n ≈ -(m/k)·ln(1-fill); the curation sink's saturation check
      * ([[graft.streaming.Streaming.curationSink]]) reads both.
      */
    def fillFraction: Double = {
      var ones = 0L
      var i = 0
      while (i < words.length) { ones += java.lang.Long.bitCount(words(i)); i += 1 }
      ones.toDouble / mBits
    }

    def fpEstimate: Double = math.pow(fillFraction, k)

    /** Inverted fill formula; clamped to ≥1 so a sizing loop always
      * terminates. A fully-saturated filter (fill = 1.0) has lost the
      * information to estimate n — callers size from their own count.
      */
    def estimatedKeys: Long =
      if (fillFraction >= 1.0) Long.MaxValue
      else math.max(1L, math.round(-(mBits.toDouble / k) * math.log1p(-fillFraction)))

    /** Membership test for a STRING key in plain JVM code, for per-
      * element paths (a UDF over an array of grams) where an expression
      * would be interpreted once per element. No false negatives.
      */
    def mightContainString(key: String): Boolean = {
      import org.apache.spark.sql.catalyst.expressions.XxHash64Function
      import org.apache.spark.sql.types.IntegerType
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(key)
      var i = 0
      while (i < k) {
        val h = XxHash64Function.hash(i, IntegerType,
          XxHash64Function.hash(u, StringType, 42L))
        val pos = java.lang.Math.floorMod(h, mBits)
        if ((words((pos / 64).toInt) & (1L << (pos % 64).toInt)) == 0L)
          return false
        i += 1
      }
      true
    }
  }

  /** An all-zero filter of fixed geometry — the starting point for an
    * INCREMENTALLY-maintained bloom whose key space grows over time
    * (size for the ceiling, not the current cardinality: the geometry
    * is frozen at creation because bit positions depend on mBits).
    */
  def empty(mBits: Long, k: Int = 5): Filter =
    Filter(new Array[Long]((mBits / 64).toInt), mBits, k)

  /** Predicted FP rate of a k-hash bloom of `mBits` holding `n` keys:
    * (1 - e^(-kn/m))^k. Used to size a REGENERATED geometry before
    * paying the rebuild scan.
    */
  def predictedFp(mBits: Long, k: Int, n: Long): Double =
    math.pow(1.0 - math.exp(-k.toDouble * n / mBits), k)

  /** Hard ceiling for REGENERATED geometries: 2^27 bits = 16 MiB of
    * word table, ≈18M keys at 1% FP. It bounds the per-batch closure
    * payload and [[union]]'s driver collect to 2M longs. Past this, one
    * filter is the wrong tool — shard by key range so each shard keeps
    * a broadcastable table.
    */
  val RegenMaxBits: Long = 1L << 27

  /** Smallest power-of-two doubling of `fromBits` whose predicted FP
    * for `n` keys is ≤ `targetFp`, capped at [[RegenMaxBits]] — past
    * that a bit table stops being a broadcastable gate. Hitting the cap
    * with the target still unmet logs a loud warning (the caller should
    * shard the key space); the returned geometry is still the best
    * available and stays CORRECT (a hotter bloom only admits more
    * false-positive suspects to the exact join behind it).
    */
  def sizeFor(n: Long, targetFp: Double, fromBits: Long, k: Int = 5): Long = {
    var m = fromBits
    while (m < RegenMaxBits && predictedFp(m, k, n) > targetFp) m *= 2
    if (predictedFp(m, k, n) > targetFp)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"bloom regeneration capped at $RegenMaxBits bits but $n keys " +
          f"predict FP ${predictedFp(m, k, n)}%.3f > target $targetFp%.3f; " +
          "shard the key space across multiple filters")
    m
  }

  /** `f` plus the keys of `build` — the incremental maintenance step.
    * Bit-setting is monotone and idempotent (bit_or), so unions are
    * order-free and replay-safe: re-adding an already-absorbed batch
    * is a no-op, which is what lets an always-on sink maintain its
    * bloom without batch-id bookkeeping. One distributed aggregate;
    * at most m/64 rows reach the driver, whatever the build size.
    */
  def union(f: Filter, build: DataFrame, keyCol: String): Filter = {
    val hashCols = (0 until f.k).map(i =>
      pmod(xxhash64(col(keyCol), lit(i)), lit(f.mBits)))
    val words = f.words.clone()
    build.select(explode(array(hashCols: _*)).as("pos"))
      .select((col("pos") / 64).cast("int").as("w"),
        call_function("shiftleft", lit(1L),
          pmod(col("pos"), lit(64L)).cast("int")).as("b"))
      .groupBy(col("w")).agg(expr("bit_or(b)").as("word"))
      .collect()
      .foreach(r => words(r.getInt(0)) |= r.getLong(1))
    Filter(words, f.mBits, f.k)
  }
}
