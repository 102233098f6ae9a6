package graft.queries

import org.apache.spark.sql.functions._
import graft.queries.T._
import graft.ops.Skew

/** Hot-key skew family: the salted operators must be INVISIBLE in the
  * result — both queries manufacture a pathological key distribution
  * (a third of all events collapse onto one key) and the oracle is the
  * plain unsalted equivalent. What salting buys is task-level balance:
  * the hot key's rows spread over `saltBuckets` tasks instead of
  * stalling one straggler, which at 100 TB is the difference between a
  * join that finishes and one that doesn't.
  */
object SkewOps {

  /** events with every third user collapsed onto user 0 — the hot key. */
  private def skewed(s: org.apache.spark.sql.SparkSession, dir: String) =
    load(s, dir, "events")
      .withColumn("k",
        when(pmod(col("user_id"), lit(3)) === 0, 0L).otherwise(col("user_id")))

  /** Salted replicated join: small dim × salt replication, big side
    * salts per-row, join on (key, salt). Result ≡ the plain join.
    */
  val q39 = Q("q39_salted_skew_join",
    (s, dir) => {
      val dim = load(s, dir, "events")
        .select(col("user_id").as("k")).distinct()
        .withColumn("cohort",
          when(col("k") === 0, "hot").otherwise(
            when(pmod(col("k"), lit(2)) === 0, "even").otherwise("odd")))
      Skew.saltedJoin(skewed(s, dir), dim, "k", saltBuckets = 8)
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy(col("cohort"))
    },
    Some("""
      WITH ev AS (
        SELECT CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS k, value
        FROM events),
      dim AS (
        SELECT DISTINCT user_id AS k,
          CASE WHEN user_id = 0 THEN 'hot'
               WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS cohort
        FROM events)
      SELECT cohort, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      FROM ev JOIN dim USING (k)
      GROUP BY cohort ORDER BY cohort"""))

  /** Two-phase salted aggregation over the same hot key. Exact-decimal
    * partials make the two-phase sum bit-identical to the direct one —
    * associativity holds in DECIMAL where it wouldn't in DOUBLE, which
    * is exactly why the partial-merge pattern should carry decimals at
    * scale.
    */
  val q40 = Q("q40_salted_agg",
    (s, dir) => {
      Skew.saltedSum(
          skewed(s, dir).withColumn("v", dec(col("value"))),
          keys = Seq("k"), valueCol = "v", saltBuckets = 8)
        .select(col("k"), col("sum_v").cast("double").as("total"))
        .orderBy(col("k"))
    },
    Some("""
      SELECT CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS k,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** Bloom-pruned fact join ([[graft.ops.Bloom.prunedJoin]]): the
    * lineitem scan passes a lazy bloom gate over the filtered orders
    * slice and drops most non-matching rows before the exchange; the
    * exact join then removes the false positives, so the oracle is the
    * plain join. Spark's runtime-filter pattern, placed explicitly: at
    * scale it is the difference between shuffling the whole fact table
    * and shuffling the slice that can match.
    */
  val q58 = Q("q58_bloom_pruned_join",
    (s, dir) => {
      val dim = load(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          year(col("o_orderdate")) === 1995)
        .select(col("o_orderkey"), col("o_orderdate"))
      graft.ops.Bloom.prunedJoin(load(s, dir, "lineitem"), dim,
          "l_orderkey", "o_orderkey")
        .groupBy(month(col("o_orderdate")).cast("long").as("mes"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice")).as("revenue"))
        .orderBy(col("mes"))
    },
    Some("""
      SELECT CAST(MONTH(o.o_orderdate) AS BIGINT) AS mes,
        COUNT(*) AS n_items,
        CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderpriority = '1-URGENT' AND YEAR(o.o_orderdate) = 1995
      GROUP BY 1 ORDER BY 1"""))

  def qs: Seq[Q] = Seq(q39, q40, q58)
}
