package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions._
import graft.streaming.Streaming
import graft.ops.Multimodal

/** Streaming pipelines driven through MemoryStream, and the multimodal
  * stub-decode pipeline.
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowed counts finalize when the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streaming.windowedCounts(df)
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        (1L, ts("2024-01-01 00:10:00"), 1L, "click", 1.0),
        (2L, ts("2024-01-01 01:20:00"), 1L, "click", 2.0),
        (3L, ts("2024-01-01 07:00:00"), 2L, "view", 5.0))
      q.processAllAvailable()
      // watermark flush: far-future event closes all earlier windows
      in.addData((99L, ts("2024-01-02 12:00:00"), 9L, "view", 0.0))
      q.processAllAvailable()
      val out = spark.table("win_out")
        .select("bucket_start", "event_type", "n", "total_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(out.contains((ts("2024-01-01 00:00:00"), "click", 2L, 3.0)))
      assert(out.contains((ts("2024-01-01 06:00:00"), "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming OHLC bars: open/close deterministic, late in-watermark rows fold in") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streaming.ohlcStream(df)
      .writeStream.format("memory").queryName("ohlc_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        (1L, ts("2024-01-01 00:10:00"), 1L, "trade", 10.0),
        (3L, ts("2024-01-01 03:00:00"), 1L, "trade", 30.0))
      q.processAllAvailable()
      // late but inside the 1h watermark: EARLIER than the current open —
      // the bar's open must move to it (algebraic fold, not first-seen)
      in.addData((2L, ts("2024-01-01 00:05:00"), 1L, "trade", 5.0))
      q.processAllAvailable()
      in.addData((99L, ts("2024-01-02 12:00:00"), 9L, "other", 0.0))
      q.processAllAvailable()
      val out = spark.table("ohlc_out")
        .select("bar_start", "event_type", "open", "high", "low", "close", "n")
        .as[(Timestamp, String, Double, Double, Double, Double, Long)]
        .collect().filter(_._2 == "trade")
      assert(out.length == 1)
      val bar = out.head
      assert(bar == ((ts("2024-01-01 00:00:00"), "trade", 5.0, 30.0, 5.0, 30.0, 3L)))
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on the 30-min gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streaming.Ev]
    val q = Streaming.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        Streaming.Ev(1L, ts("2024-01-01 00:00:00"), 1.0),
        Streaming.Ev(1L, ts("2024-01-01 00:10:00"), 2.0),
        // > 30 min gap: new session in the same batch
        Streaming.Ev(1L, ts("2024-01-01 01:00:00"), 7.0))
      q.processAllAvailable()
      val closedInline = spark.table("sess_out")
        .as[Streaming.SessionOut].collect()
      assert(closedInline.exists(s =>
        s.user_id == 1L && s.session_start == ts("2024-01-01 00:00:00") &&
          s.n_events == 2L && s.session_value == 3.0),
        s"first session should close on the in-batch gap, got ${closedInline.toSeq}")

      // advance watermark far enough to time out the open session
      in.addData(Streaming.Ev(2L, ts("2024-01-01 05:00:00"), 0.0))
      q.processAllAvailable()
      val all = spark.table("sess_out").as[Streaming.SessionOut].collect()
      assert(all.exists(s =>
        s.user_id == 1L && s.session_start == ts("2024-01-01 01:00:00") &&
          s.n_events == 1L && s.session_value == 7.0),
        s"open session should close via event-time timeout, got ${all.toSeq}")
    } finally q.stop()
  }

  test("streaming dedup drops within-horizon duplicates, state bounded by watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streaming.dedupStream(df, horizon = "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        (1L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0),
        (1L, ts("2024-01-01 00:05:00"), 1L, "click", 1.0), // same-batch dup
        (2L, ts("2024-01-01 00:10:00"), 2L, "view", 2.0))
      q.processAllAvailable()
      in.addData((1L, ts("2024-01-01 00:20:00"), 1L, "click", 1.0)) // cross-batch dup
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id").as[Long].collect().toSeq
      assert(ids.sorted == Seq(1L, 2L), s"each id exactly once, got $ids")
    } finally q.stop()
  }

  test("stream-static enrichment picks up the broadcast dim per batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val dim = Seq(("SP", "Sudeste"), ("BA", "Nordeste")).toDF("uf", "regiao")
    val q = Streaming.enrich(in.toDF().toDF("id", "uf"), dim, Seq("uf"))
      .writeStream.format("memory").queryName("enrich_out").start()
    try {
      in.addData((1L, "SP"), (2L, "BA"), (3L, "XX"))
      q.processAllAvailable()
      val out = spark.table("enrich_out")
        .select("id", "regiao").as[(Long, Option[String])].collect().toMap
      assert(out == Map(1L -> Some("Sudeste"), 2L -> Some("Nordeste"), 3L -> None))
    } finally q.stop()
  }

  test("streaming upsert sink: per-batch MERGE commits, replay is a no-op") {
    import graft.store.TxStore
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_ssink").resolve("t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sckpt").toString
    val in = MemoryStream[(Long, String, Double)]
    val q = Streaming.upsertSink(in.toDF().toDF("k", "produto", "v"),
      root, Seq("k"), ckpt)
    try {
      in.addData((1L, "soja", 100.0), (2L, "milho", 50.0))
      q.processAllAvailable()
      assert(TxStore.read(spark, root).as[(Long, String, Double)].collect().toSet ==
        Set((1L, "soja", 100.0), (2L, "milho", 50.0)))
      in.addData((2L, "milho", 75.0), (3L, "trigo", 30.0)) // update + insert
      q.processAllAvailable()
      assert(TxStore.read(spark, root).as[(Long, String, Double)].collect().toSet ==
        Set((1L, "soja", 100.0), (2L, "milho", 75.0), (3L, "trigo", 30.0)))
      // each microbatch is a time-travelable version
      assert(TxStore.currentVersion(root).exists(_ >= 2L))
      // restart replay: same batch id arrives again -> skipped, table unchanged
      val before = TxStore.read(spark, root).collect().toSet
      val replayed = TxStore.commitBatch(spark, root,
        Seq((9L, "cafe", 9.0)).toDF("k", "produto", "v"), Seq("k"),
        TxStore.lastBatchId(root).get)
      assert(!replayed)
      assert(TxStore.read(spark, root).collect().toSet == before)
    } finally q.stop()
  }

  test("ivf index sink: streamed appends == one-shot build, replay dropped, probes pruned") {
    import graft.ops.{VectorSearch => V}
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val base = emb.filter($"vec_id" =!= 0)
    val cents = V.trainCentroids(base, "vec_id", "embedding", c = 8, iters = 2)
    val live = java.nio.file.Files.createTempDirectory("graft_sivf")
      .resolve("index").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sivfck").toString
    // day 0 exists before the stream starts; the stream absorbs two more drops
    V.buildIvfIndex(base.filter($"vec_id" % 3 === 0), "vec_id", "embedding", cents, live)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(live + "_last_batch"), "-1")
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.ivfIndexSink(in.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents, live, ckpt)
    try {
      val day1 = base.filter($"vec_id" % 3 === 1)
        .as[(Long, Seq[Float])].collect()
      val day2 = base.filter($"vec_id" % 3 === 2)
        .as[(Long, Seq[Float])].collect()
      in.addData(day1.toSeq); q.processAllAvailable()
      in.addData(day2.toSeq); q.processAllAvailable()
      // the streamed index answers exactly like a one-shot build over everything
      val oneShot = java.nio.file.Files.createTempDirectory("graft_sivf2")
        .resolve("index").toString
      V.buildIvfIndex(base, "vec_id", "embedding", cents, oneShot)
      val query = emb.filter($"vec_id" === 0)
      val streamed = V.probeIvfIndex(spark, live, query, "embedding", cents, 3)
        .select("vec_id", "sim").as[(Long, Double)].collect().toSet
      val rebuilt = V.probeIvfIndex(spark, oneShot, query, "embedding", cents, 3)
        .select("vec_id", "sim").as[(Long, Double)].collect().toSet
      assert(streamed == rebuilt)
      // probes over the live index stay partition-pruned
      assert(V.probeIvfIndex(spark, live, query, "embedding", cents, 3)
        .queryExecution.executedPlan.toString.contains("PartitionFilters: [cell#"))
      // restart replay: a batch at the high-water mark is dropped, not re-appended
      val total = spark.read.parquet(live).count()
      val replayed = Streaming.ivfAppendBatch(
        base.filter($"vec_id" % 3 === 2).toDF(), batchId = 1L,
        "vec_id", "embedding", cents, live)
      assert(!replayed && spark.read.parquet(live).count() == total)
    } finally q.stop()
  }

  test("curation sink: corpus never admits a near-dup, per-batch versions") {
    import graft.store.TxStore
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_cur").resolve("t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_curckpt").toString
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b = "one two three four five six seven eight nine ten eleven twelve"
    val c = "red orange yellow green blue indigo violet cyan magenta umber ochre teal"
    val e = "north south east west up down left right forward backward inward outward"
    val in = MemoryStream[(Long, String)]
    val q = Streaming.curationSink(in.toDF().toDF("doc_id", "text"),
      root, tau = 0.6, checkpoint = ckpt)
    try {
      // batch 1: three novel docs + a within-batch near-dup of doc 1
      in.addData((1L, a), (2L, b), (3L, c), (4L, a + " tail"))
      q.processAllAvailable()
      assert(TxStore.read(spark, root).select("doc_id")
        .as[Long].collect().toSet == Set(1L, 2L, 3L))
      // batch 2: one novel + one near-dup of the PERSISTED doc 2
      in.addData((5L, e), (6L, b + " tail"))
      q.processAllAvailable()
      assert(TxStore.read(spark, root).select("doc_id")
        .as[Long].collect().toSet == Set(1L, 2L, 3L, 5L))
      // every admission is a version; dup-only batches add no documents
      assert(TxStore.currentVersion(root).exists(_ >= 2L))
      in.addData((7L, c + " tail"))
      q.processAllAvailable()
      assert(TxStore.read(spark, root).select("doc_id")
        .as[Long].collect().toSet == Set(1L, 2L, 3L, 5L))
    } finally q.stop()
  }

  test("curation gram bloom: persisted, a superset of corpus grams, rebuilt when missing") {
    import graft.store.TxStore
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_curbl").resolve("t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_curblck").toString
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b = "one two three four five six seven eight nine ten eleven twelve"
    val in = MemoryStream[(Long, String)]
    val src = in.toDF().toDF("doc_id", "text")
    var q = Streaming.curationSink(src, root, tau = 0.6, checkpoint = ckpt)
    try { in.addData((1L, a), (2L, b)); q.processAllAvailable() }
    finally q.stop()
    val blPath = Streaming.curationBloomPath(root)
    // persisted beside the table, and a superset of the corpus's grams
    // (the invariant the crash ordering — bloom before commit — protects)
    val bl = Streaming.loadGramBloom(blPath).get
    val corpusGrams = TxStore.read(spark, root)
      .select(org.apache.spark.sql.functions.explode(
        graft.ops.Dedup.shingles(col("text"), 3)).as("g"))
      .as[String].collect()
    assert(corpusGrams.nonEmpty && corpusGrams.forall(bl.mightContainString))
    // delete the bloom and restart the stream: the sink must rebuild it
    // from the corpus in one scan and still reject persisted near-dups
    // while admitting novel docs
    java.nio.file.Files.delete(java.nio.file.Paths.get(blPath))
    q = Streaming.curationSink(src, root, tau = 0.6, checkpoint = ckpt)
    try {
      in.addData((3L, a + " tail"),
        (4L, "north south east west up down left right forward backward"))
      q.processAllAvailable()
      assert(TxStore.read(spark, root).select("doc_id")
        .as[Long].collect().toSet == Set(1L, 2L, 4L))
    } finally q.stop()
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(blPath)))
  }

  test("curation bloom saturation: regenerated larger, gate recovers, admissions exact") {
    import graft.store.TxStore
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_cursat").resolve("t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cursatck").toString
    // every doc is 12 words nothing else shares -> 10 distinct 3-shingles
    def doc(i: Int): String = (0 until 12).map(w => s"w${i}x$w").mkString(" ")
    val in = MemoryStream[(Long, String)]
    val src = in.toDF().toDF("doc_id", "text")
    // deliberately tiny initial size: 1 Ki bits saturates at ~70 grams
    val q = Streaming.curationSink(src, root, tau = 0.6, checkpoint = ckpt,
      bloomBits = 1L << 10)
    try {
      // batch 1: 100 novel docs ≈ 1000 distinct grams — far past the
      // 3% FP ceiling, so the batch must regenerate at a size sized
      // for its ~1000 grams at 1% FP
      in.addData((1 to 100).map(i => (i.toLong, doc(i))): _*)
      q.processAllAvailable()
      val bl = Streaming.loadGramBloom(Streaming.curationBloomPath(root)).get
      assert(bl.bitSize() > (1L << 10), s"expected a regenerated size, got ${bl.bitSize()} bits")
      assert(bl.expectedFpp() < Streaming.CurationBloomMaxFp,
        s"regen left expectedFpp=${bl.expectedFpp()}")
      // ALL novel docs were admitted (saturation never costs admissions)
      assert(TxStore.read(spark, root).select("doc_id").as[Long].collect().toSet
        == (1 to 100).map(_.toLong).toSet)
      // superset invariant survived the regen: every corpus gram present
      val corpusGramsDf = TxStore.read(spark, root)
        .select(org.apache.spark.sql.functions.explode(
          graft.ops.Dedup.shingles(col("text"), 3)).as("g"))
      val grams = corpusGramsDf.as[String].collect()
      assert(grams.nonEmpty && grams.forall(bl.mightContainString))
      // the gate RECOVERS: the same corpus in the ORIGINAL 1 Ki-bit
      // size (fill ≈ 0.99) flags a fresh doc as suspect on false
      // positives alone; the regenerated filter does not
      val saturated = Streaming.gramBloom(corpusGramsDf, 1L << 10).get
      val fresh = Seq((999L, doc(999))).toDF("doc_id", "text")
      def suspect(f: org.apache.spark.util.sketch.BloomFilter): Long = fresh.filter(
        Streaming.curationSuspect(f, col("text"), 3, 0.6)).count()
      assert(suspect(saturated) == 1L && suspect(bl) == 0L)
      // admissions stay EXACT post-regen: a near-dup of a persisted doc
      // is rejected, a novel doc admitted
      in.addData((101L, doc(1) + " tail"), (102L, doc(200)))
      q.processAllAvailable()
      assert(TxStore.read(spark, root).select("doc_id").as[Long].collect().toSet
        == ((1 to 100).map(_.toLong).toSet + 102L))
    } finally q.stop()
  }

  test("curation burst batch: admission write fans out across tasks, steady batches stay one file") {
    import graft.store.TxStore
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_curburst").resolve("t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_curburstck").toString
    def doc(i: Int): String = (0 until 12).map(w => s"b${i}q$w").mkString(" ")
    def versionFiles(v: Long): Int = {
      val s = java.nio.file.Files.list(
        java.nio.file.Paths.get(TxStore.versionDir(root, v)))
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    val in = MemoryStream[(Long, String)]
    // rowsPerFile=20: the 50-doc burst must write >1 part file, the
    // 2-doc steady batch exactly 1
    val q = Streaming.curationSink(in.toDF().toDF("doc_id", "text"),
      root, tau = 0.6, checkpoint = ckpt, rowsPerFile = 20)
    try {
      in.addData((1 to 50).map(i => (i.toLong, doc(i))): _*)
      q.processAllAvailable()
      assert(TxStore.read(spark, root).count() == 50L)
      assert(versionFiles(TxStore.currentVersion(root).get) >= 2,
        "burst admission must not funnel through one task")
      in.addData((51L, doc(51)), (52L, doc(1) + " tail"))
      q.processAllAvailable()
      val v = TxStore.currentVersion(root).get
      // the steady batch's NEW files = its version's files minus the
      // carried base links; commitAppend links the base forward, so
      // count the version's own part files via the delta
      assert(TxStore.read(spark, root).count() == 51L)
      assert(versionFiles(v) - versionFiles(v - 1) == 1,
        "steady batch must stay one part file per microbatch")
    } finally q.stop()
  }

  test("decontamination sink: contaminated docs never enter the corpus, clean ones always do") {
    import graft.store.TxStore
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_dec").resolve("t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_decckpt").toString
    val benchText = "secret eval question about the golden ratio and its continued fraction"
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val q = Streaming.decontaminationSink(in.toDF().toDF("doc_id", "text"),
      bench, root, n = 8, checkpoint = ckpt)
    try {
      // batch 1: two clean docs + one carrying a verbatim benchmark 8-gram
      in.addData(
        (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (2L, "one two three four five six seven eight nine ten"),
        (3L, "prefix words then secret eval question about the golden ratio and its tail"))
      q.processAllAvailable()
      assert(TxStore.read(spark, root).select("doc_id")
        .as[Long].collect().toSet == Set(1L, 2L))
      // batch 2: clean doc + full benchmark copy — only the clean one lands
      in.addData((4L, "red orange yellow green blue indigo violet cyan magenta"),
        (5L, benchText))
      q.processAllAvailable()
      assert(TxStore.read(spark, root).select("doc_id")
        .as[Long].collect().toSet == Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("streaming heavy hitters: hot items survive MG state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val q = Streaming.heavyHittersStream(in.toDF().toDF("item"),
        "item", k = 4, buckets = 4)
      .writeStream.format("memory").queryName("hh_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: hot item + noise; batch 2: more of the hot item
      in.addData(Seq.fill(30)("hot") ++ (1 to 20).map(i => s"n$i"): _*)
      q.processAllAvailable()
      in.addData(Seq.fill(25)("hot") ++ (21 to 35).map(i => s"n$i"): _*)
      q.processAllAvailable()
      // the LAST emission for hot's bucket must still carry it, with
      // weight reflecting both batches (bounded undercount allowed)
      val rows = spark.table("hh_out")
        .select("item", "weight").as[(String, Long)].collect()
      val hotWeights = rows.filter(_._1 == "hot").map(_._2)
      assert(hotWeights.nonEmpty, s"hot item lost from MG state: ${rows.toSeq}")
      assert(hotWeights.max >= 30,
        s"hot weight should accumulate across batches, got ${hotWeights.toSeq}")
      // state stays bounded: no emission carries more than k items/bucket
      val perBucket = spark.table("hh_out").groupBy("bucket")
        .agg(countDistinct($"item").as("n")).as[(Int, Long)].collect()
      assert(perBucket.forall(_._2 <= 4 + 4), // k plus churn across emissions
        s"bucket candidate churn exceeded bound: ${perBucket.toSeq}")
    } finally q.stop()
  }

  test("streaming exact top-k per key: final emission equals the batch aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double, Long, String)]
    val q = Streaming.topKStream(in.toDS(), k = 3)
      .writeStream.format("memory").queryName("topk_out")
      .outputMode(OutputMode.Append()).start()
    // deterministic rows: 2 keys × 30 rows, ord collides every 3rd row
    val rows = (0 until 60).map { i =>
      (i % 2.toLong, ((i * 7) % 30 / 3 * 3).toDouble, i.toLong, s"p$i")
    }
    val (b1, b2) = rows.splitAt(25)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // batch truth over everything seen, same (ord desc, tie asc) contract
    val expected = rows.groupBy(_._1).flatMap { case (key, kv) =>
      kv.sortBy { case (_, o, t, _) => (-o, t) }.take(3).zipWithIndex
        .map { case ((_, o, t, p), i) => (key, i + 1, o, t, p) }
    }.toSet
    // the stream re-emits each key's ranking per batch (memory sink
    // keeps all emissions); rankings only IMPROVE as data arrives, so
    // the final state of each (key, rank) slot is its best emission
    val emitted = spark.table("topk_out")
      .as[(Long, Int, Double, Long, String)].collect().toSeq
    val last = emitted
      .groupBy { case (k2, r, _, _, _) => (k2, r) }
      .map { case (_, vs) => vs.minBy { case (_, _, o, t, _) => (-o, t) } }.toSet
    assert(last == expected, s"streamed top-k $last != batch truth $expected")
  }

  test("materialized view sink: running aggregates stay correct across batches") {
    import graft.store.TxStore
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_mview").resolve("v").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mckpt").toString
    val in = MemoryStream[(Long, String, Double)]
    val agg = in.toDF().toDF("event_id", "event_type", "value")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,4)")).cast("double").as("total"))
    val q = Streaming.aggViewSink(agg, root, Seq("event_type"), ckpt)
    try {
      in.addData((1L, "click", 1.0), (2L, "view", 5.0), (3L, "click", 2.0))
      q.processAllAvailable()
      def view() = TxStore.read(spark, root)
        .select("event_type", "n", "total")
        .as[(String, Long, Double)].collect()
        .map { case (t, n, s) => t -> ((n, s)) }.toMap
      assert(view() == Map("click" -> ((2L, 3.0)), "view" -> ((1L, 5.0))))
      // a later batch UPDATES click and view counts in place
      in.addData((4L, "click", 4.0), (5L, "purchase", 9.0))
      q.processAllAvailable()
      assert(view() == Map("click" -> ((3L, 7.0)), "view" -> ((1L, 5.0)),
        "purchase" -> ((1L, 9.0))))
      // every refresh is a committed, time-travelable version
      assert(TxStore.currentVersion(root).exists(_ >= 2L))
    } finally q.stop()
  }

  test("streaming as-of join matches the batch as-of join once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streaming.AsofIn]
    val q = Streaming.asofJoinStream(in.toDS(),
        horizon = "10 seconds", horizonMs = 10000L)
      .writeStream.format("memory").queryName("asof_out")
      .outputMode(OutputMode.Append()).start()
    def t(sec: Int) = ts(f"2024-01-01 00:00:$sec%02d")
    try {
      // batch 1: out-of-order arrivals; nothing can finalize yet (wm=0)
      in.addData(
        Streaming.AsofIn(1L, t(20), "build", 2.0),
        Streaming.AsofIn(1L, t(25), "probe", 100.0),
        Streaming.AsofIn(1L, t(0), "build", 1.0),
        Streaming.AsofIn(1L, t(5), "probe", 101.0),
        Streaming.AsofIn(2L, t(5), "probe", 200.0)) // key 2: no build ever
      q.processAllAvailable()
      // batch 2: wm is now 25-10=15s -> probes at 5s finalize
      in.addData(Streaming.AsofIn(1L, t(30), "build", 3.0))
      q.processAllAvailable()
      val first = spark.table("asof_out").as[Streaming.AsofOut].collect().toSet
      assert(first == Set(
        Streaming.AsofOut(1L, t(5), 101.0, Some(1.0)),
        Streaming.AsofOut(2L, t(5), 200.0, None)),
        s"probes below the watermark should emit, got $first")

      // batch 3: a late probe ABOVE the watermark still joins correctly,
      // then a far-future row flushes everything
      in.addData(Streaming.AsofIn(1L, t(21), "probe", 102.0))
      q.processAllAvailable()
      in.addData(Streaming.AsofIn(9L, ts("2024-01-01 01:00:00"), "build", 0.0))
      q.processAllAvailable()
      val got = spark.table("asof_out")
        .filter($"key" =!= 9L).as[Streaming.AsofOut].collect().toSet

      // oracle: the BATCH as-of join over the same rows
      val probes = Seq((1L, t(25), 100.0), (1L, t(5), 101.0), (2L, t(5), 200.0),
        (1L, t(21), 102.0)).toDF("key", "ts", "probe_value")
      val builds = Seq((1L, t(20), 2.0), (1L, t(0), 1.0), (1L, t(30), 3.0))
        .toDF("key", "ts", "build_value")
      val want = graft.ops.Temporal.asofJoin(probes, builds, Seq("key"), "ts", "build_value")
        .select($"key", $"ts", $"probe_value", $"build_value")
        .as[(Long, Timestamp, Double, Option[Double])].collect()
        .map(r => Streaming.AsofOut(r._1, r._2, r._3, r._4)).toSet
      assert(got == want, s"stream/batch divergence: got $got want $want")
    } finally q.stop()
  }

  test("stream-stream interval join pairs each left event with its recent right context") {
    implicit val sqlCtx = spark.sqlContext
    val lIn = MemoryStream[(Long, Timestamp, Double)]
    val rIn = MemoryStream[(Long, Timestamp, Double)]
    def t(sec: Int) = ts(f"2024-01-01 00:00:$sec%02d")
    val q = Streaming.intervalJoinStream(
        lIn.toDF().toDF("key", "ts", "value"),
        rIn.toDF().toDF("key", "ts", "value"),
        tolerance = "10 seconds", horizon = "30 seconds")
      .writeStream.format("memory").queryName("ij_out")
      .outputMode(OutputMode.Append()).start()
    try {
      rIn.addData((1L, t(0), 10.0), (1L, t(8), 11.0), (2L, t(5), 20.0))
      lIn.addData((1L, t(12), 1.0), (2L, t(30), 2.0))
      q.processAllAvailable()
      // right event arriving AFTER the left one still joins (both within interval)
      rIn.addData((1L, t(6), 12.0))
      q.processAllAvailable()
      val got = spark.table("ij_out")
        .select("key", "ts", "value", "r_ts", "r_value")
        .as[(Long, Timestamp, Double, Timestamp, Double)].collect().toSet
      // l(1,12): window [2,12] -> r at 8 and 6 (not 0); l(2,30): window [20,30] -> nothing
      assert(got == Set(
        (1L, t(12), 1.0, t(8), 11.0),
        (1L, t(12), 1.0, t(6), 12.0)), s"got $got")
    } finally q.stop()
  }

  test("frame sampling: stride fan-out, tail frame, exact energies") {
    val docs = Seq(
      (0L, "a" * 600),  // 3 frames of 256/256/88 -> sampled frame 0 only
      (1L, ""),         // no frames
      (2L, "b" * 1200)  // 5 frames -> sampled 0 and 4 (tail, 176 bytes)
    ).toDF("doc_id", "text")
    val out = Multimodal.sampleFrames(
      Multimodal.asMedia(docs, "doc_id", "text"), frameBytes = 256, stride = 4)
      .collect().map(r => (r.doc_id, r.frame_idx) -> r).toMap
    assert(out.keySet == Set((0L, 0), (2L, 0), (2L, 4)))
    assert(out((0L, 0)).n_bytes == 256)
    assert(out((2L, 4)).n_bytes == 1200 - 4 * 256)
    assert(math.abs(out((0L, 0)).energy - 256 * 97f / 255f) < 1e-3)
    assert(math.abs(out((2L, 4)).energy - 176 * 98f / 255f) < 1e-3)
  }

  test("media metadata query prunes the payload column at the scan") {
    val docs = Seq((0L, "hello"), (1L, "a longer doc"), (2L, "x"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_media")
      .resolve("media").toString
    Multimodal.asMedia(docs, "doc_id", "text").toDF().write.parquet(dir)
    // metadata-only rollup: at 100 TB this must not read the payload
    // bytes — column pruning has to reach the parquet scan
    val q = spark.read.parquet(dir).groupBy($"format").count()
    val readSchema = q.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.nonEmpty, "no ReadSchema in plan")
    assert(!readSchema.contains("payload"),
      s"payload column not pruned from the scan: $readSchema")
    assert(q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .values.sum == 3L)
  }

  test("multimodal stub decode: deterministic features, exact byte math") {
    val docs = Seq((0L, "ab"), (1L, ""), (2L, "xyz")).toDF("doc_id", "text")
    val out = Multimodal.extractFeatures(
      Multimodal.asMedia(docs, "doc_id", "text"), dim = 2)
      .collect().map(r => r.doc_id -> r).toMap
    assert(out(0L).format == "png" && out(1L).format == "jpeg" && out(2L).format == "wav")
    assert(out(0L).n_bytes == 2 && out(0L).ok)
    assert(!out(1L).ok && out(1L).n_bytes == 0)
    // 'a'=97,'b'=98 -> features = [97/255, 98/255]
    assert(math.abs(out(0L).features(0) - 97f / 255f) < 1e-6)
    assert(math.abs(out(0L).features(1) - 98f / 255f) < 1e-6)
    // 'x','y','z' with dim 2: f0 = (120+122)/255, f1 = 121/255
    assert(math.abs(out(2L).features(0) - (120f + 122f) / 255f) < 1e-6)
  }
}
