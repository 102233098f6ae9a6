package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.logical.Repartition

import graft.ops.{fanOut, leafBytes}

/** Pins [[graft.ops.leafBytes]], the size `fanOut` decides on: a
  * parquet scan's leaf stats must track the on-disk bytes, and a leaf
  * carrying the optimizer's unknown-size sentinel — the RDD-constructed
  * frames inside the iterative operators — must yield None rather than
  * the sentinel poisoning the sum (measured: the sentinel rendered a
  * 2 MB scan as 8 TiB before this contract).
  */
class LeafBytesSpec extends SparkSuite {

  test("parquet leaves report on-disk bytes, within stats slack") {
    val dir = Files.createTempDirectory("graft_leafbytes").toString
    spark.range(0, 10000).selectExpr("id", "id * 2 as v")
      .write.mode("overwrite").parquet(s"$dir/t")
    val onDisk = Files.walk(java.nio.file.Paths.get(s"$dir/t"))
      .filter(p => p.toString.endsWith(".parquet"))
      .mapToLong(p => Files.size(p)).sum()
    val got = leafBytes(spark.read.parquet(s"$dir/t"))
    assert(got.isDefined)
    // leaf stats are file-size based but may carry a compression /
    // estimation factor; same order of magnitude is the contract
    assert(got.get >= onDisk && got.get <= onDisk * 4,
      s"leaf stats ${got.get} vs on-disk $onDisk")
  }

  test("scan size survives filters and projections above the leaf") {
    val dir = Files.createTempDirectory("graft_leafbytes2").toString
    spark.range(0, 1000).selectExpr("id", "cast(id as string) as s")
      .write.mode("overwrite").parquet(s"$dir/t")
    val base = leafBytes(spark.read.parquet(s"$dir/t"))
    val shaped = leafBytes(
      spark.read.parquet(s"$dir/t").filter("id > 10").select("id"))
    // collectLeaves sees the same relation whatever sits above it
    assert(shaped == base)
  }

  /** A leaf whose size the optimizer does NOT know: a frame built
    * from a raw RDD carries the unknown-size sentinel (localCheckpoint
    * results of PLANNED frames keep their origin stats, so those stay
    * measurable — it is the createDataFrame-over-RDD shape inside the
    * iterative operators that doesn't).
    */
  private def unknownLeaf = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L), Row(2L))),
      StructType(Seq(StructField("id", LongType))))
  }

  test("RDD leaves with no stats yield None, not the sentinel") {
    assert(leafBytes(unknownLeaf).isEmpty)
  }

  test("a join of a parquet leaf and an unknown leaf is still unknown") {
    val dir = Files.createTempDirectory("graft_leafbytes3").toString
    spark.range(0, 100).toDF("id").write.mode("overwrite").parquet(s"$dir/t")
    val pq = spark.read.parquet(s"$dir/t")
    assert(leafBytes(pq.join(unknownLeaf, "id")).isEmpty)
  }

  test("localCheckpoint of a planned frame keeps measurable stats") {
    val df = spark.range(0, 100).toDF("id").localCheckpoint(eager = true)
    val got = leafBytes(df)
    assert(got.exists(b => b > 0 && b < (1L << 20)))
  }

  test("fanOut widens a small parquet frame and leaves an RDD-leaf frame as is") {
    val dir = Files.createTempDirectory("graft_leafbytes4").toString
    spark.range(0, 100).toDF("id").write.mode("overwrite").parquet(s"$dir/t")
    val widened = fanOut(spark.read.parquet(s"$dir/t")).queryExecution.optimizedPlan
      .collectFirst { case r: Repartition => r.numPartitions }
    assert(widened === Some(spark.sparkContext.defaultParallelism))
    val rdd = unknownLeaf
    assert(fanOut(rdd) eq rdd)
  }
}
