package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.Skipping

/** Synthesize a larger scale factor from the driver's testdata by
  * stamping out N key-shifted replicas of each fact table (dimensions
  * stay single-copy, as in TPC-H) — the measurement substrate for the
  * two-point scale proof in SCALE.md. The point is to grow VOLUME ×N
  * while preserving each query's workload SHAPE, which needs more care
  * than a blind union:
  *
  *   - every long surrogate key is shifted by `replica × 10M`, with
  *     referencing columns shifted identically, so intra-replica joins
  *     stay consistent and cross-replica keys never collide;
  *   - dimension foreign keys (nation/region) are NOT shifted —
  *     broadcast dims keep their cardinality, exactly like TPC-H scale
  *     factors;
  *   - document text is passed through a per-replica substitution
  *     cipher (Latin letters under a per-replica affine bijection —
  *     312 distinct maps, so factor 100+ substrates keep replicas
  *     distinct — CJK block shifted; length-preserving so `n_chars`
  *     stays true). Within a replica every
  *     pairwise similarity is EXACTLY preserved (the cipher is a
  *     bijection on shingles), so planted near-dup structure scales
  *     ×N; across replicas shingles are disjoint, so similarity-join
  *     workloads grow linearly instead of quadratically (a naive ×N
  *     copy would put N identical docs in every LSH bucket and blow
  *     pair counts up ×N² — measuring THAT would flag the workload,
  *     not the plan);
  *   - embeddings get a per-replica deterministic sign mask: within a
  *     replica cosine is exactly preserved (diag(±1) is orthogonal),
  *     across replicas a mixed mask drives expected cosine to ~0, for
  *     the same linear-not-quadratic reason.
  *
  * Replica 0 is row-identical to the source (file layout may differ —
  * the fan-out is spread across cores), so every sf0.1 result is a
  * subset of the scaled corpus. Deterministic: no RNG anywhere.
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir] [dstDir] [factor]
  * (defaults /root/testdata/sf0.1 -> target/testdata/sf1.0 ×10).
  */
object ScaleUp {

  private val KeyOff = 10000000L // > every key in the source tables

  /** Length-preserving per-replica substitution cipher on Latin
    * letters: the affine map x -> a·x + b (mod 26) with b = r mod 26
    * and a drawn from the 12 units of Z/26 by r div 26 — 312 distinct
    * bijections, so every replica of a factor-100 (even factor-300)
    * substrate carries a DIFFERENT letter mapping and cross-replica
    * shingle spaces stay (essentially) disjoint. For r < 26 the map
    * degenerates to the plain Caesar rotation (a = 1). The CJK unified
    * block (U+4E00..U+9FFF) rotates by r·1009 (injective to r = 20991);
    * everything else (digits, punctuation, whitespace, accents) is
    * untouched. r=0 is the identity.
    */
  private val units = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
  private[graft] def cipher(s: String, r: Int): String = {
    if (s == null || r == 0) return s
    val a = units((r / 26) % units.length)
    val b = r % 26
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val n: Char =
        if (c >= 'a' && c <= 'z') ((a * (c - 'a') + b) % 26 + 'a').toChar
        else if (c >= 'A' && c <= 'Z') ((a * (c - 'A') + b) % 26 + 'A').toChar
        else if (c >= 0x4E00 && c <= 0x9FFF)
          (0x4E00 + ((c - 0x4E00) + r * 1009) % 0x5200).toChar
        else c
      sb.append(n)
      i += 1
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "target/testdata/sf1.0"
    val factor = if (args.length > 2) args(2).toInt else 10
    // reuse a live session when invoked through the CLI verb inside a
    // running application; only a session this main created is stopped
    val preexisting =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = preexisting.getOrElse(graft.SparkBoot.session(cpus))

    val cipherUdf = udf((s: String, r: Int) => cipher(s, r))
    val reps = spark.range(factor).select(col("id").cast("int").as("__r"))

    /** N replicas with `keys` shifted per replica; `extra` runs with
      * `__r` still in scope for content perturbation.
      */
    def scale(table: String, keys: Seq[String],
        extra: DataFrame => DataFrame = identity): Unit = {
      // small-SF tables arrive as one or two parquet splits; spread the
      // source across cores BEFORE the ×factor fan-out or the whole
      // replica stamp-out (and its write) runs on a couple of tasks
      val df = Skipping.readParquet(spark, s"$src/$table.parquet")
        .repartition(cpus.toInt)
      val fanned = df.crossJoin(broadcast(reps))
      val shifted = keys.foldLeft(fanned) { (d, k) =>
        d.withColumn(k, col(k) + col("__r").cast("long") * lit(KeyOff))
      }
      extra(shifted).drop("__r")
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"scaled $table ×$factor")
    }

    def copy(table: String): Unit = {
      Skipping.readParquet(spark, s"$src/$table.parquet")
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"copied $table (dimension, single copy)")
    }

    copy("region"); copy("nation")
    scale("customer", Seq("c_custkey"))
    scale("supplier", Seq("s_suppkey"))
    scale("part", Seq("p_partkey"))
    scale("orders", Seq("o_orderkey", "o_custkey"))
    scale("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    scale("events", Seq("event_id", "user_id"))
    scale("documents", Seq("doc_id"),
      _.withColumn("text", cipherUdf(col("text"), col("__r"))))
    // sign mask: flip dim i of replica r iff murmur3(i, r) ≡ 0..2
    // (mod 7) — a pseudo-random ~3/7 subset that is DISTINCT for every
    // replica (no class cycling at any factor), identity for r=0 by
    // the explicit branch; diag(±1) is orthogonal, so within-replica
    // cosine is exact and cross-replica expected cosine ~0
    scale("embeddings", Seq("vec_id"),
      _.withColumn("embedding", expr(
        """transform(embedding, (x, i) ->
           CASE WHEN __r = 0 THEN x
                WHEN pmod(hash(cast(i AS int), __r), 7) < 3
                THEN CAST(-x AS FLOAT) ELSE x END)""")))

    // verification: row counts are exactly ×factor (dims ×1)
    Seq("region", "nation").foreach { t =>
      val (s, d) = (Skipping.readParquet(spark, s"$src/$t.parquet").count(),
        Skipping.readParquet(spark, s"$dst/$t.parquet").count())
      require(s == d, s"$t: $s != $d")
    }
    Seq("customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings").foreach { t =>
      val (s, d) = (Skipping.readParquet(spark, s"$src/$t.parquet").count(),
        Skipping.readParquet(spark, s"$dst/$t.parquet").count())
      require(s * factor == d, s"$t: $s×$factor != $d")
    }
    println(s"wrote $dst (×$factor of $src)")
    if (preexisting.isEmpty) spark.stop()
  }
}
