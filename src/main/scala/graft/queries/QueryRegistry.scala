package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.store.Skipping

/** One operator-demonstrating query: a Spark implementation plus (when
  * exactly expressible) the equivalent DuckDB SQL oracle. Column names
  * and row ordering are deterministic and identical on both sides; all
  * float aggregates go through exact DECIMAL(18,4) sums and are cast to
  * DOUBLE at the end so the two engines produce bit-identical values
  * regardless of accumulation order.
  */
case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false)

object QueryRegistry {
  def all: Seq[Q] =
    Relational.qs ++ Relational2.qs ++ Relational3.qs ++ Temporal.qs ++ AgFunctions.qs ++ Validation.qs ++ TextAnalysis.qs ++ TextAnalysis2.qs ++
      DedupOps.qs ++ VectorSearch.qs ++ StoreOps.qs ++ DimOps.qs ++
      MultimodalOps.qs ++ SkewOps.qs ++ Analytics.qs ++ SemiStructured.qs ++
      GraphAnalytics.qs

  lazy val byName: Map[String, Q] = all.map(q => q.name -> q).toMap
}

/** Shared helpers for query definitions. */
object T {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType, TimestampType}

  /** Reads a driver table. The events `ts` column has shipped in two
    * physical parquet layouts so far — TIMESTAMP(NANOS) (which Spark 4
    * rejects outright, [PARQUET_TYPE_ILLEGAL], so it is read as raw
    * longs via the legacy conf) and naive TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ). The loader branches on the schema it actually got
    * and normalizes both to TIMESTAMP_NTZ — the timezone-free type
    * whose values are exactly the naive microseconds DuckDB's TIMESTAMP
    * sees, so oracle hashes are independent of any session timezone.
    * The drift contract is pinned by EventsLayoutSpec.
    *
    * The same normalization guards EVERY known timestamp column
    * ([[timestampCols]]): a regenerated testdata set has flipped one
    * table's physical layout once (33 queries failed analysis), and
    * any table's timestamp drifting to LTZ, NANOS-as-long, or µs-NTZ
    * now lands in the identical NTZ shape instead.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = if (name == "events") loadEventsRaw(spark, dir)
      else Skipping.readParquet(spark, s"$dir/$name.parquet")
    timestampCols.get(name).fold(raw)(cols => normalizeTs(raw, cols))
  }

  /** Columns with timestamp semantics per driver table (TESTDATA.md).
    * LongType under a listed name means the legacy nanos layout.
    */
  private val timestampCols: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"),
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"))

  /** Events exactly as stored: `ts` is raw nanosecond longs under the
    * legacy layout (predicates that should reach the parquet scan must
    * then be applied on the longs BEFORE conversion) and TIMESTAMP_NTZ
    * under the µs layout (NTZ predicates push down natively — see q02's
    * µs branch and the ApiSpec plan test). The session's conf is left
    * as it was.
    */
  def loadEventsRaw(spark: SparkSession, dir: String): DataFrame =
    Skipping.readParquet(spark, s"$dir/events.parquet", nanosAsLong = true)

  /** Normalizes the named columns to TIMESTAMP_NTZ whatever the
    * physical layout. The nanos→NTZ branch goes through an instant
    * cast, which is exact because every graft entry point pins
    * `spark.sql.session.timeZone=UTC` (Verify/Bench/tests/PlanReport).
    */
  def normalizeTs(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.filter(df.columns.contains).foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case LongType => // legacy TIMESTAMP(NANOS) read as raw longs
          d.withColumn(c,
            timestamp_micros(expr(s"$c div 1000")).cast(TimestampNTZType))
        case TimestampNTZType => d
        case TimestampType =>
          d.withColumn(c, col(c).cast(TimestampNTZType))
        case other =>
          throw new IllegalStateException(s"unsupported $c layout: $other")
      }
    }

  /** The events-specific entry (kept for callers and EventsLayoutSpec). */
  def normalizeEventTs(spark: SparkSession, df: DataFrame): DataFrame =
    normalizeTs(df, Seq("ts"))

  /** Epoch nanoseconds of a UTC date literal, for raw-ts pushdown
    * against the legacy long-nanos layout only.
    */
  def dateNanos(date: String): Long =
    java.time.LocalDate.parse(date).toEpochDay * 86400L * 1000000000L

  /** Epoch micros/millis of a naive (NTZ) timestamp — `unix_micros`/
    * `unix_millis` only accept the session-tz TIMESTAMP type, so the
    * NTZ column is cast through the session clock, which graft pins to
    * UTC, making the result the same naive epoch DuckDB's
    * `epoch_us`/`epoch_ms` computes. (Accepts LTZ input too, where the
    * cast is a no-op.)
    */
  def epochUs(c: Column): Column = unix_micros(c.cast(TimestampType))
  def epochMs(c: Column): Column = unix_millis(c.cast(TimestampType))

  /** Exact decimal view of a double column (oracle-parity arithmetic). */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** sum as exact decimal, surfaced as double — identical in any engine. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** average via exact decimal sum / count — engine-order independent. */
  def davg(c: Column): Column = sum(dec(c)).cast("double") / count(c)
}
