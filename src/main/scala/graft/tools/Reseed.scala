package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second-substrate generator for the correctness gate: a
  * deterministic, seed-parameterized VALUE perturbation of the
  * driver's testdata. Every oracle row in CORRECTNESS_r*.json checks
  * one fixed substrate (seed 42); running the identical Verify +
  * DuckDB compare against a reseeded substrate converts "correct on
  * this data" into "correct on the semantics" — any hash that only
  * matched by seed coincidence breaks here.
  *
  * What changes and what must not:
  *  - keys and row counts are UNCHANGED (referential integrity is
  *    free, and key-literal queries keep hitting);
  *  - every measure is re-drawn or jittered through murmur3(key, seed)
  *    — deterministic, RNG-free, a different stream per seed;
  *  - categorical columns are re-dealt from their own observed domain
  *    (group-by/filter semantics see different distributions, never
  *    new values);
  *  - timestamps shift per-row by a bounded hash-of-key day/hour
  *    offset (literal date-range predicates still select non-trivial
  *    subsets);
  *  - document text goes through ONE global [[ScaleUp.cipher]] map
  *    (length-preserving bijection on shingles): all planted
  *    dedup/similarity structure survives verbatim while every string
  *    the queries see is different;
  *  - embeddings get a seeded diag(±1) sign mask (orthogonal — exact
  *    pairwise cosines preserved, every coordinate different).
  *
  * Usage: runMain graft.tools.Reseed [srcDir] [dstDir] [seed]
  * (defaults /root/testdata/sf0.01 -> target/testdata/sf0.01-seed2,
  * seed 4242). The driver's /root/testdata is never written.
  */
object Reseed {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.01")
    val dst = if (args.length > 1) args(1) else "target/testdata/sf0.01-seed2"
    val seed = if (args.length > 2) args(2).toInt else 4242
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val preexisting =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = preexisting.getOrElse(graft.SparkBoot.session(cpus))

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"reseeded $t")
    }

    /** murmur3 of (key, salt, seed) — the per-row entropy source. */
    def h(key: Column, salt: Int): Column = hash(key, lit(salt), lit(seed))
    /** uniform in [0, n) */
    def draw(key: Column, salt: Int, n: Int): Column =
      pmod(h(key, salt), lit(n))
    /** multiplicative jitter in [0.9, 1.1], quantized to cents — the
      * driver's own value granularity. Quantization matters: the
      * oracle queries round their aggregates, and full-precision
      * jittered doubles push summation-order noise past the rounding
      * threshold (34 last-digit hash mismatches before this).
      */
    def jitter(x: Column, key: Column, salt: Int): Column =
      round(x * (lit(0.9) + draw(key, salt, 2001).cast("double") / lit(10000.0)), 2)
    /** re-deal a categorical from its own observed domain */
    def redeal(df: DataFrame, c: String, key: Column, salt: Int): Column = {
      val domain = df.select(col(c)).distinct()
        .collect().map(_.get(0)).filter(_ != null).map(_.toString).sorted
      element_at(typedlit(domain.toSeq), (draw(key, salt, domain.length) + 1).cast("int"))
    }
    /** per-row day shift in [-days, +days] */
    def shiftDays(ts: Column, key: Column, salt: Int, days: Int): Column =
      ts + make_dt_interval(
        (draw(key, salt, 2 * days + 1) - lit(days)).cast("int"))

    // dimensions: fixed vocabulary, copied verbatim
    write(read("region"), "region")
    write(read("nation"), "nation")

    val cust = read("customer")
    write(cust
      .withColumn("c_acctbal", jitter(col("c_acctbal"), col("c_custkey"), 1))
      .withColumn("c_mktsegment", redeal(cust, "c_mktsegment", col("c_custkey"), 2))
      .withColumn("c_nationkey",
        draw(col("c_custkey"), 3, 25).cast("int")), "customer")

    write(read("supplier")
      .withColumn("s_acctbal", jitter(col("s_acctbal"), col("s_suppkey"), 4))
      .withColumn("s_nationkey",
        draw(col("s_suppkey"), 5, 25).cast("int")), "supplier")

    val part = read("part")
    write(part
      .withColumn("p_size", (draw(col("p_partkey"), 6, 50) + 1).cast("int"))
      .withColumn("p_retailprice", jitter(col("p_retailprice"), col("p_partkey"), 7))
      .withColumn("p_brand", redeal(part, "p_brand", col("p_partkey"), 8))
      .withColumn("p_type", redeal(part, "p_type", col("p_partkey"), 9)), "part")

    val orders = read("orders")
    write(orders
      .withColumn("o_orderstatus", redeal(orders, "o_orderstatus", col("o_orderkey"), 10))
      .withColumn("o_orderpriority", redeal(orders, "o_orderpriority", col("o_orderkey"), 11))
      .withColumn("o_totalprice", jitter(col("o_totalprice"), col("o_orderkey"), 12))
      .withColumn("o_orderdate",
        shiftDays(col("o_orderdate"), col("o_orderkey"), 13, 60)), "orders")

    val li = read("lineitem")
    val lkey = col("l_orderkey") * lit(8L) + col("l_linenumber")
    write(li
      .withColumn("l_quantity", (draw(lkey, 14, 50) + 1).cast("double"))
      .withColumn("l_extendedprice", jitter(col("l_extendedprice"), lkey, 15))
      .withColumn("l_discount", draw(lkey, 16, 11).cast("double") / lit(100.0))
      .withColumn("l_tax", draw(lkey, 17, 9).cast("double") / lit(100.0))
      .withColumn("l_returnflag", redeal(li, "l_returnflag", lkey, 18))
      .withColumn("l_linestatus", redeal(li, "l_linestatus", lkey, 19))
      .withColumn("l_shipdate", shiftDays(col("l_shipdate"), lkey, 20, 60)), "lineitem")

    val ev = read("events")
    write(ev
      .withColumn("event_type", redeal(ev, "event_type", col("event_id"), 21))
      .withColumn("value", jitter(col("value"), col("event_id"), 22))
      .withColumn("ts", shiftDays(col("ts"), col("event_id"), 23, 14)), "events")

    // ONE cipher map for the whole corpus: a bijection on shingles, so
    // every pairwise similarity (planted near-dups, winnowing overlap,
    // decontamination grams) is preserved EXACTLY while every string
    // changes. r is pinned nonzero and below the 312-map cycle.
    val r = (seed % 311) + 1
    val cipherUdf = udf((s: String) => ScaleUp.cipher(s, r))
    write(read("documents")
      .withColumn("text", cipherUdf(col("text"))), "documents")

    // seeded diag(±1): orthogonal, exact cosines preserved, every
    // coordinate stream different from the driver's
    write(read("embeddings")
      .withColumn("embedding", expr(
        s"""transform(embedding, (x, i) ->
            CASE WHEN pmod(hash(cast(i AS int), $seed), 7) < 3
                 THEN CAST(-x AS FLOAT) ELSE x END)""")), "embeddings")

    // row counts unchanged
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      val (a, b) = (read(t).count(),
        spark.read.parquet(s"$dst/$t.parquet").count())
      require(a == b, s"$t: $a != $b")
    }
    println(s"wrote $dst (seed $seed perturbation of $src)")
    if (preexisting.isEmpty) spark.stop()
  }
}
