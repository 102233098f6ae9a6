package graft

import org.apache.spark.sql.functions._

/** The property that makes sketch-based corpus statistics viable at
  * 100 TB: HLL sketch union is EXACT over sketch state, so per-shard /
  * per-day sketches maintained incrementally yield the identical
  * estimate a full rebuild would — no re-scan of history, ever. Plus
  * the accuracy anchor: the estimate tracks exact distinct within the
  * configured-precision error envelope.
  */
class SketchMergeSpec extends SparkSuite {
  import spark.implicits._

  private lazy val toks = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("source"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
    .cache()

  test("union of per-source sketches == single-pass whole-corpus sketch") {
    val merged = toks.groupBy(col("source"))
      .agg(hll_sketch_agg(col("token"), lit(12)).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
      .head().getLong(0)
    val single = toks
      .agg(hll_sketch_estimate(hll_sketch_agg(col("token"), lit(12))).as("est"))
      .head().getLong(0)
    assert(merged == single, s"merge must be lossless: $merged vs $single")
  }

  test("incremental split by doc parity merges to the same estimate") {
    val a = toks.filter(col("doc_id") % 2 === 0)
    val b = toks.filter(col("doc_id") % 2 === 1)
    val halves = a.agg(hll_sketch_agg(col("token"), lit(12)).as("sk"))
      .unionByName(b.agg(hll_sketch_agg(col("token"), lit(12)).as("sk")))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
      .head().getLong(0)
    val whole = toks
      .agg(hll_sketch_estimate(hll_sketch_agg(col("token"), lit(12))).as("est"))
      .head().getLong(0)
    assert(halves == whole)
  }

  test("streaming sketch sink: live merged state == one-shot batch sketch; replay is estimate-idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("sketch_sink").toString
    val rows = toks.select(col("source"), col("token"))
      .as[(String, String)].collect().toSeq
    val (h1, h2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[(String, String)]
    val q = graft.streaming.Streaming.sketchSink(
      in.toDF().toDF("source", "token"), "source", "token",
      path = root, checkpoint = root + "_ckpt")
    try {
      in.addData(h1: _*); q.processAllAvailable()
      in.addData(h2: _*); q.processAllAvailable()
    } finally q.stop()
    val live = graft.streaming.Streaming.sketchEstimates(spark, root)
      .as[(String, Long)].collect().toMap
    val batch = toks.groupBy(col("source"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("token"), lit(12))).as("est"))
      .as[(String, Long)].collect().toMap
    assert(live == batch, s"live $live vs batch $batch")
    // replay algebra: re-merging an already-absorbed batch changes nothing
    graft.streaming.Streaming.sketchMergeBatch(
      h2.toDF("source", "token"), 99L, "source", "token", root, 12)
    val replayed = graft.streaming.Streaming.sketchEstimates(spark, root)
      .as[(String, Long)].collect().toMap
    assert(replayed == live)
  }

  test("sketch table retention: 50 batches keep at most KeepLast + 1 versions, estimates equal one pass") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.store.TxStore
    import graft.streaming.Streaming
    val root = Files.createTempDirectory("sketch_keep").toString
    (0 until 50).foreach(i => Streaming.sketchMergeBatch(
      toks.filter(col("doc_id") % 50 === i), i.toLong, "source", "token", root, 12))
    val versions = {
      val s = Files.list(Paths.get(root, "_versions"))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
    assert(versions.size <= Streaming.KeepLast + 1, s"versions left: ${versions.sorted}")
    assert(TxStore.lastBatchId(root).contains(49L))
    val live = Streaming.sketchEstimates(spark, root).as[(String, Long)].collect().toMap
    val batch = toks.groupBy(col("source"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("token"), lit(12))).as("est"))
      .as[(String, Long)].collect().toMap
    assert(live == batch, s"live $live vs batch $batch")
  }

  test("estimate within the precision envelope of exact distinct") {
    val exact = toks.select(col("token")).distinct().count().toDouble
    val est = toks
      .agg(hll_sketch_estimate(hll_sketch_agg(col("token"), lit(12))).as("est"))
      .head().getLong(0).toDouble
    assert(math.abs(est - exact) / exact < 0.05,
      s"est $est vs exact $exact drifts past 5%")
  }
}
