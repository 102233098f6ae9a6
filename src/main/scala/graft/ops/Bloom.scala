package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.util.sketch.BloomFilter

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
  * [[collect]] brings the same aggregate's filter to the driver as a
  * `BloomFilter`, for an always-on sink that merges it into a held
  * filter (`mergeInPlace`), probes it per element and persists it
  * (`writeTo`/`readFrom`).
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

  /** `bloom_filter_agg` over `key` itself at `items` expected items and
    * `bits` bits, collected: what `df.stat.bloomFilter(key, items, bits)`
    * runs, but None over an empty input, where the aggregate is null and
    * `stat.bloomFilter` fails. A string key goes in as its UTF-8 bytes,
    * so `mightContainString` probes it. The session's
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`/`maxNumBits`
    * cap both sizes, so filters collected at one size in one session
    * merge.
    */
  def collect(df: DataFrame, key: Column, items: Long, bits: Long): Option[BloomFilter] = {
    val agg = new BloomFilterAggregate(ColumnBridge.expression(key), Literal(items), Literal(bits))
    Option(df.select(ColumnBridge.column(agg.toAggregateExpression())).head().getAs[Array[Byte]](0))
      .map(BloomFilter.readFrom)
  }

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
}
