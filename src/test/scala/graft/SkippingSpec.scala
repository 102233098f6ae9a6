package graft

import org.apache.spark.sql.functions._
import graft.store.Skipping

/** File skipping from parquet footers and native blooms: after a
  * Morton-code layout, footer min/max must prune files on EITHER
  * clustering column — the property a single-column sort can't give —
  * blooms must prune point lookups on a hash layout, and skipping must
  * stay invisible in results, partition columns included.
  */
class SkippingSpec extends SparkSuite {
  import spark.implicits._

  private lazy val (path, base) = {
    val p = java.nio.file.Files.createTempDirectory("graft_zspec")
      .resolve("t").toString
    // 64×64 grid: both coordinates uniform, the adversarial case for
    // one-dimensional sorting
    val df = (0L until 4096L).map(i => (i % 64L, i / 64L, i))
      .toDF("x", "y", "payload")
    Skipping.zOrdered(df, "x", "y", numFiles = 16, bits = 8).write.parquet(p)
    (p, df)
  }

  test("zValue interleaves bits (locality sanity)") {
    val z = spark.range(1).select(
      Skipping.zValue(lit(3L), lit(5L), 4).as("z")).head().getLong(0)
    // x=0b0011, y=0b0101 -> z bits x0 y0 x1 y1 x2 y2 x3 y3 = 0b100111 = 39
    assert(z == 39L, s"expected 39, got $z")
  }

  test("narrow range on EACH column prunes files; results identical") {
    for ((c, lo, hi) <- Seq(("x", 10L, 20L), ("y", 50L, 60L))) {
      val (kept, total) = Skipping.pruneFiles(spark, path, c, lit(lo), lit(hi))
      assert(total == 16)
      assert(kept.size < total,
        s"$c range [$lo,$hi] should prune: kept ${kept.size} of $total")
      val got = Skipping.readRange(spark, path, c, lit(lo), lit(hi))
        .select("x", "y", "payload").as[(Long, Long, Long)].collect().toSet
      val want = base.filter(col(c).between(lo, hi))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == want, s"$c skipping changed the result")
    }
  }

  test("bloom tier: point lookups prune to ~1 file where min/max prunes nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomspec")
      .resolve("t").toString
    // hash layout on y: every file's x-interval spans the keyspace
    val df = (0L until 4096L).map(i => (i, i % 97L, i * 3L))
      .toDF("x", "y", "payload")
    df.repartition(8, col("y")).write.options(Skipping.bloomOptions(Seq("x"))).parquet(dir)
    // min/max: the point range [1234, 1234] intersects EVERY file
    val (rangeKept, totalR) = Skipping.pruneFiles(spark, dir, "x",
      lit(1234L), lit(1234L))
    assert(totalR == 8 && rangeKept.size == 8,
      s"layout should defeat min/max: kept ${rangeKept.size}")
    // bloom: at most a couple of FP files survive alongside the true one
    val (bloomKept, totalB) = Skipping.pruneFilesByBloom(spark, dir, "x", lit(1234L))
    assert(totalB == 8 && bloomKept.nonEmpty && bloomKept.size <= 2,
      s"bloom should prune to ~1 file: kept ${bloomKept.size}")
    // result identity, present and absent keys
    val hit = Skipping.readPoint(spark, dir, "x", lit(1234L))
      .select(col("x"), col("y"), col("payload"))
      .as[(Long, Long, Long)].collect().toSet
    assert(hit == Set((1234L, 1234L % 97L, 3702L)))
    assert(Skipping.readPoint(spark, dir, "x", lit(999999L)).count() == 0)
  }

  test("bloom tier: an int key literal finds its row in a bigint column") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomtype")
      .resolve("t").toString
    (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4).write.options(Skipping.bloomOptions(Seq("id"))).parquet(dir)
    val want = spark.read.parquet(dir).filter(col("id") === lit(5))
      .as[(Long, String)].collect().toSeq
    assert(want == Seq((5L, "v5")))
    // xxhash64 of int 5 differs from bigint 5: the key is hashed at the
    // column's type, or every file's bloom rejects it
    assert(Skipping.readPoint(spark, dir, "id", lit(5))
      .as[(Long, String)].collect().toSeq == want)
    assert(Skipping.pruneFilesByBloom(spark, dir, "id", lit(5))._1.nonEmpty)
  }

  /** A directory written with `partitionBy("p")`: 3 partitions, several files each. */
  private lazy val (partDir, partBase) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_partskip")
      .resolve("t").toString
    val df = (0L until 600L).map(i => (i, s"v$i", i % 3L)).toDF("x", "v", "p")
    df.repartition(4, col("x") % 4L).write.partitionBy("p")
      .options(Skipping.bloomOptions(Seq("x"))).parquet(dir)
    (dir, spark.read.parquet(dir))
  }

  private def sameAs(got: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.as[(Long, String, Long)].collect().toSet ==
      want.as[(Long, String, Long)].collect().toSet)
  }

  test("a point read over a partitioned directory equals read + filter") {
    val (kept, total) = Skipping.pruneFilesByBloom(spark, partDir, "x", lit(301L))
    assert(total >= 6 && kept.nonEmpty && kept.size <= 2,
      s"bloom should prune partition files: kept ${kept.size} of $total")
    sameAs(Skipping.readPoint(spark, partDir, "x", lit(301L)),
      partBase.filter(col("x") === 301L))
    // a key on the partition column itself has no footer chunk: nothing is pruned
    sameAs(Skipping.readPoint(spark, partDir, "p", lit(2L)),
      partBase.filter(col("p") === 2L))
    assert(Skipping.readPoint(spark, partDir, "x", lit(9999L)).count() == 0)
  }

  test("a range read over a partitioned directory equals read + filter") {
    sameAs(Skipping.readRange(spark, partDir, "x", lit(100L), lit(130L)),
      partBase.filter(col("x").between(100L, 130L)))
    val (kept0, _) = Skipping.pruneFiles(spark, partDir, "x", lit(5000L), lit(6000L))
    assert(kept0.isEmpty)
    val empty = Skipping.readRange(spark, partDir, "x", lit(5000L), lit(6000L))
    assert(empty.count() == 0 && empty.columns.toSeq == partBase.columns.toSeq)
  }

  test("keys that do not fold to the column's type keep every file") {
    // a string key against a bigint column and a key that is a column
    // reference cannot be probed; the exact filter still answers
    for (key <- Seq(lit("301"), col("x"))) {
      val (kept, total) = Skipping.pruneFilesByBloom(spark, partDir, "x", key)
      assert(kept.size == total)
    }
    sameAs(Skipping.readPoint(spark, partDir, "x", lit("301")),
      partBase.filter(col("x") === lit("301")))
  }

  test("building a readPoint or readRange frame runs no Spark job") {
    import graft.store.TxStore
    val root = java.nio.file.Files.createTempDirectory("graft_skipjobs")
      .resolve("t").toString
    TxStore.writeBloomStats(spark, root, "x")
    TxStore.init((0L until 1000L).map(i => (i, s"v$i")).toDF("x", "v").repartition(4), root)
    val ((point, range), jobs) = jobsStartedBy((TxStore.readPoint(spark, root, "x", lit(42L)),
      TxStore.readRange(spark, root, "x", lit(10L), lit(20L))))
    assert(jobs.isEmpty, s"Spark jobs ran while the frames were built: $jobs")
    assert(point.count() == 1 && range.count() == 11)
  }
}
