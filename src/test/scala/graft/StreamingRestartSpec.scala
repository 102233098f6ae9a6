package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.store.TxStore
import graft.streaming.Streaming

/** Kill-and-replay soak: stop a streaming query mid-stream, restart it
  * from the SAME checkpoint, and assert the terminal state is identical
  * to an uninterrupted run. StreamingSpec proves per-sink batch-id
  * idempotence by direct replay calls; these tests prove the
  * END-TO-END restart contract — offset recovery, state-store
  * recovery, and the crash window BETWEEN a sink's commit and the
  * checkpoint's commit marker (simulated by deleting the newest
  * `commits/<n>` file, which forces Spark to re-run that exact batch
  * id on restart — the replay every idempotent sink must absorb).
  */
class StreamingRestartSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Delete the newest commit marker so restart replays its batch. */
  private def dropLastCommitMarker(ckpt: String): Long = {
    val commits = Paths.get(ckpt, "commits")
    val s = Files.list(commits)
    val latest =
      try s.iterator().asScala
        .filter(_.getFileName.toString.forall(_.isDigit))
        .maxBy(_.getFileName.toString.toLong)
      finally s.close()
    Files.delete(latest)
    // Hadoop's local ChecksumFileSystem keeps a `.<n>.crc` sidecar; a
    // stale one makes the re-written marker's rename throw
    // FileAlreadyExists (surfaced as a bogus "multiple streaming
    // queries" error), so the simulated crash removes both files.
    Files.deleteIfExists(
      commits.resolve("." + latest.getFileName.toString + ".crc"))
    latest.getFileName.toString.toLong
  }

  test("upsert sink: crash between table commit and checkpoint marker; restart replays as a no-op and resumes") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("graft_rst_up") + "/t"
    val ckpt = tmp("graft_rst_upck")
    val in = MemoryStream[(Long, String, Double)]
    val src = in.toDF().toDF("k", "produto", "v")
    def rows(): Set[(Long, String, Double)] =
      TxStore.read(spark, root).as[(Long, String, Double)].collect().toSet

    var q = Streaming.upsertSink(src, root, Seq("k"), ckpt)
    try {
      in.addData((1L, "soja", 100.0), (2L, "milho", 50.0))
      q.processAllAvailable()
    } finally q.stop()
    val vBefore = TxStore.currentVersion(root).get
    val rowsBefore = rows()

    // the table committed batch 0 but the checkpoint "lost" its marker
    // (crash in the gap) — restart MUST re-run batch 0 and the sink's
    // batch-id high-water mark MUST drop it
    val replayedId = dropLastCommitMarker(ckpt)
    assert(TxStore.lastBatchId(root).contains(replayedId))
    q = Streaming.upsertSink(src, root, Seq("k"), ckpt)
    try {
      q.processAllAvailable()
      assert(TxStore.currentVersion(root).contains(vBefore),
        "replayed batch must not create a new version")
      assert(rows() == rowsBefore)
      // and the stream keeps going: post-restart updates land normally
      in.addData((2L, "milho", 75.0), (3L, "trigo", 30.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(rows() ==
      Set((1L, "soja", 100.0), (2L, "milho", 75.0), (3L, "trigo", 30.0)),
      "terminal state must equal an uninterrupted run")
  }

  test("curation sink: restart with forced replay never re-admits, then keeps curating") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("graft_rst_cur") + "/t"
    val ckpt = tmp("graft_rst_curck")
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b = "one two three four five six seven eight nine ten eleven twelve"
    val e = "north south east west up down left right forward backward inward outward"
    val in = MemoryStream[(Long, String)]
    val src = in.toDF().toDF("doc_id", "text")
    def docs(): Set[Long] =
      TxStore.read(spark, root).select("doc_id").as[Long].collect().toSet

    var q = Streaming.curationSink(src, root, tau = 0.6, checkpoint = ckpt)
    try {
      in.addData((1L, a), (2L, b))
      q.processAllAvailable()
    } finally q.stop()
    assert(docs() == Set(1L, 2L))
    val vBefore = TxStore.currentVersion(root).get

    dropLastCommitMarker(ckpt)
    q = Streaming.curationSink(src, root, tau = 0.6, checkpoint = ckpt)
    try {
      // replayed batch: same docs again — corpus must not duplicate and
      // must not advance its version
      q.processAllAvailable()
      assert(docs() == Set(1L, 2L))
      assert(TxStore.currentVersion(root).contains(vBefore))
      // stream continues: novel doc admitted, near-dup of a PERSISTED
      // pre-restart doc rejected (proves the corpus side survived too)
      in.addData((5L, e), (6L, b + " tail"))
      q.processAllAvailable()
    } finally q.stop()
    assert(docs() == Set(1L, 2L, 5L),
      "terminal corpus must equal an uninterrupted run's")
  }

  test("ohlc bars: state store survives restart — pre-restart trades and a post-restart late tick fold into one bar") {
    implicit val sqlCtx = spark.sqlContext
    val out = tmp("graft_rst_ohlc_out")
    val ckpt = tmp("graft_rst_ohlcck")
    val in = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val src = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    def start() = Streaming.ohlcStream(src)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .start()

    var q = start()
    try {
      in.addData(
        (1L, ts("2024-01-01 00:10:00"), 1L, "trade", 10.0),
        (3L, ts("2024-01-01 03:00:00"), 1L, "trade", 30.0))
      q.processAllAvailable()
    } finally q.stop() // bar still OPEN in the state store at stop time
    // restart: the unfinalized bar must come back from the checkpointed
    // state store, absorb a LATE in-watermark tick that moves the open,
    // and finalize when the watermark passes — exactly as uninterrupted
    q = start()
    try {
      in.addData((2L, ts("2024-01-01 00:05:00"), 1L, "trade", 5.0))
      q.processAllAvailable()
      in.addData((99L, ts("2024-01-02 12:00:00"), 9L, "other", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val bars = spark.read.parquet(out)
      .select("bar_start", "event_type", "open", "high", "low", "close", "n")
      .as[(Timestamp, String, Double, Double, Double, Double, Long)]
      .collect().filter(_._2 == "trade").toSeq
    assert(bars == Seq(
      (ts("2024-01-01 00:00:00"), "trade", 5.0, 30.0, 5.0, 30.0, 3L)),
      "restarted bar must equal the uninterrupted StreamingSpec twin")
  }

  test("kll quantile sink: crash in the commit gap — the batch-id fence drops the REAL replayed batch, then keeps merging") {
    implicit val sqlCtx = spark.sqlContext
    val probs = Seq(0.25, 0.5, 0.75)
    // exact regime (n ≪ k): the sketch holds every value, so quantiles
    // are exact and batch-order-independent — any double-merge of
    // batch 1 (values 101..200 twice) visibly shifts every quartile
    val b1 = (1 to 100).map(v => ("k0", v.toDouble))
    val b2 = (101 to 200).map(v => ("k0", v.toDouble))
    val b3 = (201 to 300).map(v => ("k0", v.toDouble))
    def estimates(path: String): Map[String, Seq[Double]] =
      Streaming.quantileEstimates(spark, path, probs)
        .select("key", "quantiles").as[(String, Seq[Double])].collect().toMap

    // interrupted run: crash between the sketch-table commit and the
    // checkpoint commit marker, after batch 1
    val path = tmp("graft_rst_kll") + "/t"
    val ckpt = tmp("graft_rst_kllck")
    val in = MemoryStream[(String, Double)]
    def start() = Streaming.quantileSink(
      in.toDF().toDF("key", "v"), "key", "v", path, ckpt, k = 2048)
    var q = start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val before = estimates(path)
    val fenceBefore = TxStore.lastBatchId(path)
    val versionBefore = TxStore.currentVersion(path)

    val replayedId = dropLastCommitMarker(ckpt)
    assert(fenceBefore.contains(replayedId),
      "crash is IN the gap: sketch table committed the batch the checkpoint lost")
    q = start()
    try {
      // restart re-runs batch `replayedId` for real; KLL merge is not
      // idempotent, so only the fence separates this from double-count
      q.processAllAvailable()
      assert(estimates(path) == before,
        "replayed batch must be fenced — a re-merge would shift every quartile")
      assert(TxStore.lastBatchId(path) == fenceBefore)
      assert(TxStore.currentVersion(path) == versionBefore, "a fenced batch commits no version")
      in.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    val terminal = estimates(path)

    // uninterrupted twin: same batches, no crash — terminal states match
    val path2 = tmp("graft_rst_kll2") + "/t"
    val ckpt2 = tmp("graft_rst_kll2ck")
    val in2 = MemoryStream[(String, Double)]
    val q2 = Streaming.quantileSink(
      in2.toDF().toDF("key", "v"), "key", "v", path2, ckpt2, k = 2048)
    try {
      in2.addData(b1: _*); q2.processAllAvailable()
      in2.addData(b2: _*); q2.processAllAvailable()
      in2.addData(b3: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(terminal == estimates(path2),
      "post-restart quantiles must equal the uninterrupted run's")
  }

  test("hll sketch sink: crash in the commit gap — union idempotence absorbs the replay, then keeps merging") {
    implicit val sqlCtx = spark.sqlContext
    val b1 = (1 to 60).map(i => ("k0", s"tok$i")) ++ (1 to 40).map(i => ("k1", s"t$i"))
    val b2 = (41 to 90).map(i => ("k0", s"tok$i")) // overlaps b1 on purpose
    val b3 = (81 to 120).map(i => ("k1", s"t$i"))
    def estimates(path: String): Map[String, Long] =
      Streaming.sketchEstimates(spark, path).as[(String, Long)].collect().toMap

    val path = tmp("graft_rst_hll") + "/t"
    val ckpt = tmp("graft_rst_hllck")
    val in = MemoryStream[(String, String)]
    def start() = Streaming.sketchSink(
      in.toDF().toDF("key", "token"), "key", "token", path, ckpt)
    var q = start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val before = estimates(path)

    dropLastCommitMarker(ckpt)
    q = start()
    try {
      // the batch-id fence drops the replay; HLL union is the CRDT
      // besides — sketch ∪ sketch = sketch, so estimates cannot move
      q.processAllAvailable()
      assert(estimates(path) == before, "replayed union must be a no-op on estimates")
      in.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    // terminal state equals the one-shot batch sketch over everything —
    // stronger than equaling an uninterrupted twin
    import org.apache.spark.sql.functions.{col, hll_sketch_agg, hll_sketch_estimate, lit}
    val all = (b1 ++ b2 ++ b3).toDF("key", "token")
    val oneShot = all.groupBy(col("key"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("token"), lit(12))).as("est"))
      .as[(String, Long)].collect().toMap
    assert(estimates(path) == oneShot,
      "post-restart estimates must equal the one-shot sketch of all data")
  }

  test("exact top-k stream: state store survives restart + forced replay; terminal ranking equals batch truth") {
    implicit val sqlCtx = spark.sqlContext
    val out = tmp("graft_rst_topk_out")
    val ckpt = tmp("graft_rst_topkck")
    val in = MemoryStream[(Long, Double, Long, String)]
    def start() = Streaming.topKStream(in.toDS(), k = 3)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .start()
    val rows = (0 until 60).map { i =>
      (i % 2.toLong, ((i * 7) % 30 / 3 * 3).toDouble, i.toLong, s"p$i")
    }
    val (b1, b2) = rows.splitAt(25)

    var q = start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    dropLastCommitMarker(ckpt)
    q = start()
    try {
      // the replayed batch re-runs against the RESTORED pre-batch state
      // version; the file sink's own batch log drops the duplicate write
      q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    // batch truth over everything seen, same (ord desc, tie asc) contract
    val expected = rows.groupBy(_._1).flatMap { case (key, kv) =>
      kv.sortBy { case (_, o, t, _) => (-o, t) }.take(3).zipWithIndex
        .map { case ((_, o, t, p), i) => (key, i + 1, o, t, p) }
    }.toSet
    val emitted = spark.read.parquet(out)
      .as[(Long, Int, Double, Long, String)].collect().toSeq
    // batch-1's emission must not appear twice (file-sink replay dedup):
    // each batch emits ≤ k rows per key, 2 keys × 2 batches × 3 ranks
    assert(emitted.size <= 12,
      s"replayed emission duplicated in the file sink: ${emitted.size} rows")
    val last = emitted
      .groupBy { case (k2, r, _, _, _) => (k2, r) }
      .map { case (_, vs) => vs.minBy { case (_, _, o, t, _) => (-o, t) } }.toSet
    assert(last == expected,
      s"post-restart top-k must equal batch truth: $last != $expected")
  }

  test("heavy hitters stream: MG state survives restart + forced replay without double-counting") {
    implicit val sqlCtx = spark.sqlContext
    val out = tmp("graft_rst_hh_out")
    val ckpt = tmp("graft_rst_hhck")
    val in = MemoryStream[String]
    def start() = Streaming.heavyHittersStream(in.toDF().toDF("item"),
        "item", k = 4, buckets = 4)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .start()

    var q = start()
    try {
      in.addData(Seq.fill(30)("hot") ++ (1 to 20).map(i => s"n$i"): _*)
      q.processAllAvailable()
    } finally q.stop()
    dropLastCommitMarker(ckpt)
    q = start()
    try {
      q.processAllAvailable() // replayed batch folds into the RESTORED state
      in.addData(Seq.fill(25)("hot") ++ (21 to 35).map(i => s"n$i"): _*)
      q.processAllAvailable()
    } finally q.stop()

    val weights = spark.read.parquet(out)
      .select("item", "weight").as[(String, Long)].collect()
      .filter(_._1 == "hot").map(_._2)
    assert(weights.nonEmpty, "hot item lost across restart")
    // state survived: a lost state store would cap the final weight at
    // batch 2's 25; a DOUBLE-played batch 1 would push it past 55
    assert(weights.max >= 30 && weights.max <= 55,
      s"hot weight must reflect both batches exactly once, got ${weights.max}")
  }

  test("ivf index sink: crash in the commit gap — marker fences the replayed append, then keeps absorbing") {
    import graft.ops.{VectorSearch => V}
    implicit val sqlCtx = spark.sqlContext
    val live = tmp("graft_rst_ivf") + "/index"
    val ckpt = tmp("graft_rst_ivfck")
    val cents: Array[Seq[Float]] = Array(Seq(1f, 0f), Seq(0f, 1f))
    // day 0 exists before the stream starts
    V.buildIvfIndex(Seq((1L, Seq(0.9f, 0.1f)), (2L, Seq(0.1f, 0.9f)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", cents, live)
    Files.writeString(Paths.get(live + "_last_batch"), "-1")
    val in = MemoryStream[(Long, Seq[Float])]
    def start() = Streaming.ivfIndexSink(in.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents, live, ckpt)

    var q = start()
    try {
      in.addData((3L, Seq(0.8f, 0.2f)), (4L, Seq(0.2f, 0.8f)))
      q.processAllAvailable()
    } finally q.stop()
    val countBefore = spark.read.parquet(live).count()
    assert(countBefore == 4L)

    val replayedId = dropLastCommitMarker(ckpt)
    assert(Files.readString(Paths.get(live + "_last_batch")).trim.toLong
      == replayedId, "crash is IN the gap: index appended, checkpoint lost")
    q = start()
    try {
      // appends are not idempotent — only the marker fence separates
      // the replay from doubling batch 0's vectors
      q.processAllAvailable()
      assert(spark.read.parquet(live).count() == countBefore,
        "replayed append must be fenced, not re-appended")
      in.addData((5L, Seq(0.95f, 0.05f)))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(live).count() == 5L)
    // terminal index answers like a one-shot build over everything
    val oneShot = tmp("graft_rst_ivf2") + "/index"
    V.buildIvfIndex(Seq(
        (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.1f, 0.9f)), (3L, Seq(0.8f, 0.2f)),
        (4L, Seq(0.2f, 0.8f)), (5L, Seq(0.95f, 0.05f)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", cents, oneShot)
    val query = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    def top(path: String) =
      V.probeIvfIndex(spark, path, query, "embedding", cents, 3)
        .select("vec_id", "sim").as[(Long, Double)].collect().toSet
    assert(top(live) == top(oneShot),
      "post-restart probes must equal a one-shot build's")
  }

  test("curation sink: crash between bloom save and table commit — over-full bloom, replay admits the uninterrupted set") {
    // the Scaladoc's crash-ordering argument, proven: a writer that died
    // AFTER saveGramBloom and BEFORE commitBatchAppend leaves a bloom
    // that already contains the batch's grams while the table and the
    // checkpoint know nothing. On restart the batch replays against that
    // OVER-FULL bloom — every novel doc bloom-hits at fraction 1.0, so
    // all of them go suspect — and the exact confirm join must clear
    // them, making admissions equal an uninterrupted run's.
    import org.apache.spark.sql.functions.{col, explode}
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("graft_rst_curgap") + "/t"
    val ckpt = tmp("graft_rst_curgapck")
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b = "one two three four five six seven eight nine ten eleven twelve"
    val c = "red orange yellow green blue indigo violet cyan magenta umber ochre teal"
    val e = "north south east west up down left right forward backward inward outward"
    val in = MemoryStream[(Long, String)]
    val src = in.toDF().toDF("doc_id", "text")
    def docs(): Set[Long] =
      TxStore.read(spark, root).select("doc_id").as[Long].collect().toSet

    var q = Streaming.curationSink(src, root, tau = 0.6, checkpoint = ckpt)
    try { in.addData((1L, a), (2L, b)); q.processAllAvailable() }
    finally q.stop()
    assert(docs() == Set(1L, 2L))

    // manufacture the exact crash state of a batch-1 attempt that died
    // in the gap: its grams reach the persisted bloom, nothing else
    val batch1 = Seq((5L, e), (6L, c), (7L, b + " tail"))
    val blPath = Streaming.curationBloomPath(root)
    val over = Streaming.loadGramBloom(blPath).get
    over.mergeInPlace(Streaming.gramBloom(batch1.toDF("doc_id", "text").select(
      explode(graft.ops.Dedup.shingles(col("text"), 3)).as("g")), over.bitSize()).get)
    Streaming.saveGramBloom(blPath, over)

    q = Streaming.curationSink(src, root, tau = 0.6, checkpoint = ckpt)
    try { in.addData(batch1: _*); q.processAllAvailable() }
    finally q.stop()
    // novel docs admitted despite 100% bloom-hit; near-dup of persisted
    // doc 2 still rejected
    assert(docs() == Set(1L, 2L, 5L, 6L))

    // uninterrupted twin: same batches, no crash — identical admissions
    val root2 = tmp("graft_rst_curgap2") + "/t"
    val ckpt2 = tmp("graft_rst_curgap2ck")
    val in2 = MemoryStream[(Long, String)]
    val q2 = Streaming.curationSink(in2.toDF().toDF("doc_id", "text"),
      root2, tau = 0.6, checkpoint = ckpt2)
    try {
      in2.addData((1L, a), (2L, b)); q2.processAllAvailable()
      in2.addData(batch1: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(docs() == TxStore.read(spark, root2).select("doc_id")
      .as[Long].collect().toSet,
      "crash-gap admissions must equal the uninterrupted run's")
  }

  test("decontamination sink: restart with forced replay never re-admits, never leaks, then keeps gating") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("graft_rst_dec") + "/t"
    val ckpt = tmp("graft_rst_decck")
    val benchText = "secret eval question about the golden ratio and its continued fraction"
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    def docs(): Set[Long] =
      TxStore.read(spark, root).select("doc_id").as[Long].collect().toSet
    def start() = Streaming.decontaminationSink(in.toDF().toDF("doc_id", "text"),
      bench, root, n = 8, checkpoint = ckpt)

    var q = start()
    try {
      in.addData(
        (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (2L, "prefix words then secret eval question about the golden ratio and its tail"))
      q.processAllAvailable()
    } finally q.stop()
    assert(docs() == Set(1L))
    val vBefore = TxStore.currentVersion(root).get

    dropLastCommitMarker(ckpt)
    q = start()
    try {
      // replayed batch: the high-water mark drops it — no new version,
      // no duplicate admission, and doc 2 stays out
      q.processAllAvailable()
      assert(docs() == Set(1L))
      assert(TxStore.currentVersion(root).contains(vBefore))
      // stream continues: clean doc admitted, full benchmark copy rejected
      in.addData((3L, "one two three four five six seven eight nine ten"),
        (4L, benchText))
      q.processAllAvailable()
    } finally q.stop()
    assert(docs() == Set(1L, 3L),
      "terminal corpus must equal an uninterrupted run's")
  }

  test("ivf index sink: a damaged batch marker reads as absent, so the batch is appended") {
    import graft.ops.{VectorSearch => V}
    val live = tmp("graft_rst_ivfbad") + "/index"
    val cents: Array[Seq[Float]] = Array(Seq(1f, 0f), Seq(0f, 1f))
    V.buildIvfIndex(Seq((1L, Seq(0.9f, 0.1f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents, live)
    val marker = Paths.get(live + "_last_batch")
    Files.writeString(marker, "7\u0000garbage")
    // at-least-once: an unreadable fence admits the batch rather than
    // failing every later one
    assert(Streaming.ivfAppendBatch(Seq((2L, Seq(0.1f, 0.9f))).toDF("vec_id", "embedding"),
      0L, "vec_id", "embedding", cents, live))
    assert(spark.read.parquet(live).count() == 2L)
    assert(Files.readString(marker) == "0")
  }

  test("curation gram bloom: concurrent saves to one path never share a tmp file") {
    val dir = Paths.get(tmp("graft_rst_blsave"))
    val path = dir.resolve("grams.bloom").toString
    def bytes(f: org.apache.spark.util.sketch.BloomFilter): Seq[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      f.writeTo(out)
      out.toByteArray.toSeq
    }
    val filters = (1 to 4).map(i =>
      Streaming.gramBloom((1 to 100 * i).map(j => s"g${i}_$j").toDF("g"), 1L << 20).get)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(filters.size)
    try {
      filters.map(f => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = (1 to 25).foreach(_ => Streaming.saveGramBloom(path, f))
      })).foreach(_.get())
    } finally pool.shutdown()
    // the survivor is one writer's whole filter, and no tmp file is left
    val loaded = Streaming.loadGramBloom(path).get
    assert(filters.exists(f => bytes(f) == bytes(loaded)))
    assert(Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSeq
      == Seq("grams.bloom"))
  }

  test("curation gram bloom: a truncated file is rebuilt on restart, admissions equal an uninterrupted run") {
    implicit val sqlCtx = spark.sqlContext
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b = "one two three four five six seven eight nine ten eleven twelve"
    val e = "north south east west up down left right forward backward inward outward"
    val batch1 = Seq((5L, e), (6L, b + " tail"), (7L, a + " tail"))
    def docs(root: String): Set[Long] =
      TxStore.read(spark, root).select("doc_id").as[Long].collect().toSet

    val root = tmp("graft_rst_curtrunc") + "/t"
    val ckpt = tmp("graft_rst_curtruncck")
    val in = MemoryStream[(Long, String)]
    val src = in.toDF().toDF("doc_id", "text")
    var q = Streaming.curationSink(src, root, tau = 0.6, checkpoint = ckpt)
    try { in.addData((1L, a), (2L, b)); q.processAllAvailable() }
    finally q.stop()
    // a writer that died mid-file, or a disk that lost the tail
    val blPath = Paths.get(Streaming.curationBloomPath(root))
    val whole = Files.readAllBytes(blPath)
    Files.write(blPath, whole.take(whole.length / 2))
    assert(Streaming.loadGramBloom(blPath.toString).isEmpty)

    q = Streaming.curationSink(src, root, tau = 0.6, checkpoint = ckpt)
    try { in.addData(batch1: _*); q.processAllAvailable() }
    finally q.stop()
    // rebuilt from the corpus: the near-dups of persisted docs stay out
    val rebuilt = Streaming.loadGramBloom(blPath.toString)
    assert(rebuilt.isDefined)
    assert(Seq(a, b, e).flatMap(_.split(" ").sliding(3).map(_.mkString(" ")))
      .forall(rebuilt.get.mightContainString))

    val root2 = tmp("graft_rst_curtrunc2") + "/t"
    val in2 = MemoryStream[(Long, String)]
    val q2 = Streaming.curationSink(in2.toDF().toDF("doc_id", "text"),
      root2, tau = 0.6, checkpoint = tmp("graft_rst_curtrunc2ck"))
    try {
      in2.addData((1L, a), (2L, b)); q2.processAllAvailable()
      in2.addData(batch1: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(docs(root) == Set(1L, 2L, 5L))
    assert(docs(root) == docs(root2), "admissions after the rebuild must equal the uninterrupted run's")
  }
}
