package graft

import org.apache.spark.sql.functions._
import graft.store.Skipping

/** Z-order clustering: after a Morton-code layout, the min/max sidecar
  * must prune files on EITHER clustering column — the property a
  * single-column sort can't give — and skipping must stay invisible in
  * results.
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
    Skipping.writeZOrdered(df, p, "x", "y", numFiles = 16, bits = 8)
    Skipping.writeStats(spark, p, Seq("x", "y"))
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
    df.repartition(8, col("y")).write.parquet(dir)
    Skipping.writeStats(spark, dir, Seq("x"))
    Skipping.writeBloomStats(spark, dir, "x")
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
      .repartition(4).write.parquet(dir)
    Skipping.writeBloomStats(spark, dir, "id")
    val want = spark.read.parquet(dir).filter(col("id") === lit(5))
      .as[(Long, String)].collect().toSeq
    assert(want == Seq((5L, "v5")))
    // xxhash64 of int 5 differs from bigint 5: the key is hashed at the
    // column's type, or every file's bloom rejects it
    assert(Skipping.readPoint(spark, dir, "id", lit(5))
      .as[(Long, String)].collect().toSeq == want)
    assert(Skipping.pruneFilesByBloom(spark, dir, "id", lit(5))._1.nonEmpty)
  }
}
