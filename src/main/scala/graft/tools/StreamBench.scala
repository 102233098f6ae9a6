package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.streaming.Streaming

/** Streaming scale evidence — the measurement SCALE/COMPUTE/SHUFFLE
  * make for the batch registry, applied to the streaming sinks: drive
  * each sink through a MemoryStream at TWO input volumes (×4 apart)
  * and record throughput plus the STATE/ARTIFACT SIZE TRAJECTORY over
  * batches. The claim under test is the one every sink's Scaladoc
  * makes: state is bounded by the key space / sketch size / window
  * horizon — O(keys·k), never O(input) — so the last-batch state at ×4
  * input matches the ×1 run instead of quadrupling, and the
  * within-run trajectory plateaus instead of climbing linearly.
  *
  * Stateful engine operators (windowed agg, OHLC, watermark dedup,
  * exact top-k, Misra-Gries heavy hitters) report the state store's
  * own row counts (`stateOperators.numRowsTotal` per progress event);
  * foreachBatch table sinks (TxStore upsert, curation, HLL/KLL sketch
  * tables) report the on-disk size of the CURRENT committed version —
  * the live state a reader pays for (older versions are retention
  * policy, not state).
  *
  * Writes `STREAM.md`. Deterministic input (hash-keyed values, fixed
  * key spaces, event time advancing 30 min per batch so watermarks
  * move and windows close). Usage: runMain graft.tools.StreamBench
  * (env SPARK_GRAFT_STREAM_BATCHES to override the 20-batch default).
  */
object StreamBench {

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  /** Current-version bytes of a TxStore table (live state, not
    * retention history).
    */
  private def tableBytes(root: String): Long =
    graft.store.TxStore.currentVersion(root)
      .map(v => dirBytes(Paths.get(graft.store.TxStore.versionDir(root, v))))
      .getOrElse(0L)

  /** Current-version bytes of a sketch table (HLL/KLL sink layout). */
  private def sketchBytes(path: String): Long = {
    val ptr = Paths.get(path, "_version")
    if (!Files.exists(ptr)) 0L
    else dirBytes(Paths.get(path, s"v${Files.readString(ptr).trim}"))
  }

  final case class Row(sink: String, volume: String, rows: Long,
    wallSec: Double, series: Seq[Long], unit: String, bound: String,
    expect: String) // "const" = volume-independent; "rate" = ∝ arrival rate

  def main(args: Array[String]): Unit = {
    val batches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "20").toInt
    val spark = graft.SparkBoot.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val work = Files.createTempDirectory("graft_streambench")
    var results = Vector.empty[Row]

    /** Drive `batches` microbatches, recording a state metric after
      * each; returns (wallSec, series).
      */
    def drive[T](in: MemoryStream[T], q: StreamingQuery,
        gen: Int => Seq[T], metric: () => Long): (Double, Seq[Long]) = {
      val t0 = System.nanoTime()
      val series = (0 until batches).map { b =>
        in.addData(gen(b))
        q.processAllAvailable()
        metric()
      }
      q.stop()
      ((System.nanoTime() - t0) / 1e9, series)
    }

    /** Like [[drive]] but the series is PER-BATCH wall milliseconds —
      * the metric for sinks whose artifact rightfully grows with the
      * corpus (an index, a clean-corpus table): their boundedness
      * claim is that per-batch COST stays flat as the accumulated
      * artifact grows, i.e. append cost ∝ batch, never ∝ index size.
      */
    def driveTimed[T](in: MemoryStream[T], q: StreamingQuery,
        gen: Int => Seq[T]): (Double, Seq[Long]) = {
      val t0 = System.nanoTime()
      val series = (0 until batches).map { b =>
        val b0 = System.nanoTime()
        in.addData(gen(b))
        q.processAllAvailable()
        (System.nanoTime() - b0) / 1000000L
      }
      q.stop()
      ((System.nanoTime() - t0) / 1e9, series)
    }

    /** Engine state rows of the LAST progress event. */
    def stateRows(q: StreamingQuery): () => Long = () =>
      Option(q.lastProgress).flatMap(p => p.stateOperators.headOption)
        .map(_.numRowsTotal).getOrElse(0L)

    // event stream: 8 types, 500 users, event time +30 min per batch
    // (6 h windows close every 12 batches; 1 h watermark trails)
    def events(rpb: Int)(b: Int): Seq[(Long, Timestamp, Long, String, Double)] =
      (0 until rpb).map { i =>
        val id = b.toLong * rpb + i
        (id, new Timestamp(base + b * 1800000L + (i % 1800) * 1000L),
          id % 500, s"t${id % 8}", (id % 1000) / 10.0)
      }

    def run(volume: String, rpb: Int): Unit = {
      val rows = batches.toLong * rpb
      def mk(tag: String) = s"$work/${tag}_$volume"

      // -- windowed counts (q35's streaming twin; state: open windows) --
      locally {
        val in = MemoryStream[(Long, Timestamp, Long, String, Double)]
        val df = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
        val q = Streaming.windowedCounts(df)
          .writeStream.format("memory").queryName(s"win_$volume")
          .outputMode(OutputMode.Append()).start()
        val (w, s) = drive(in, q, events(rpb), stateRows(q))
        results :+= Row("windowed_counts", volume, rows, w, s, "state rows",
          "open windows × event types", "const")
      }

      // -- sessionization (flatMapGroupsWithState; state: active users) --
      locally {
        val in = MemoryStream[Streaming.Ev]
        val q = Streaming.sessionize(in.toDS())
          .writeStream.format("memory").queryName(s"sess_$volume")
          .outputMode(OutputMode.Append()).start()
        val gen = (b: Int) => (0 until rpb).map { i =>
          val id = b.toLong * rpb + i
          Streaming.Ev(id % 500,
            new Timestamp(base + b * 1800000L + (i % 1800) * 1000L),
            (id % 1000) / 10.0)
        }
        val (w, s) = drive(in, q, gen, stateRows(q))
        results :+= Row("sessionize", volume, rows, w, s, "state rows",
          "≤ active users (500) — O(1) per user, sessions close by timeout",
          "const")
      }

      // -- continuously-maintained MV (update-mode agg -> TxStore) --
      locally {
        val in = MemoryStream[(Long, Timestamp, Long, String, Double)]
        val df = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
        val root = mk("mv_tbl"); val chk = mk("mv_chk")
        val agg = df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
        val q = Streaming.aggViewSink(agg, root, Seq("event_type"), chk)
        val (w, s) = drive(in, q, events(rpb), () => tableBytes(root))
        results :+= Row("agg_view_mv", volume, rows, w, s, "table bytes",
          "8 aggregate keys (update-mode MERGE by key)", "const")
      }

      // -- OHLC (windowed agg state: open windows × types) --
      locally {
        val in = MemoryStream[(Long, Timestamp, Long, String, Double)]
        val df = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
        val q = Streaming.ohlcStream(df)
          .writeStream.format("memory").queryName(s"ohlc_$volume")
          .outputMode(OutputMode.Append()).start()
        val (w, s) = drive(in, q, events(rpb), stateRows(q))
        results :+= Row("ohlc_bars", volume, rows, w, s, "state rows",
          "open windows × event types", "const")
      }

      // -- watermark dedup (state: keys inside the 1 h horizon) --
      locally {
        val in = MemoryStream[(Long, Timestamp, Long, String, Double)]
        val df = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
        // every row sent twice: half the input is duplicates to drop
        val q = Streaming.dedupStream(df)
          .writeStream.format("memory").queryName(s"dedup_$volume")
          .outputMode(OutputMode.Append()).start()
        val (w, s) = drive(in, q,
          b => { val r = events(rpb / 2)(b); r ++ r }, stateRows(q))
        results :+= Row("watermark_dedup", volume, rows, w, s, "state rows",
          "keys per watermark horizon (∝ arrival rate, never ∝ stream length)",
          "rate")
      }

      // -- exact top-k per key (state: keys × k) --
      locally {
        val in = MemoryStream[(Long, Double, Long, String)]
        val q = Streaming.topKStream(in.toDS(), k = 10)
          .writeStream.format("memory").queryName(s"topk_$volume")
          .outputMode(OutputMode.Append()).start()
        val gen = (b: Int) => (0 until rpb).map { i =>
          val id = b.toLong * rpb + i
          (id % 50, (id % 997).toDouble, id, s"p$id")
        }
        val (w, s) = drive(in, q, gen, stateRows(q))
        results :+= Row("topk_exact", volume, rows, w, s, "state rows",
          "50 keys × k=10 = 500", "const")
      }

      // -- Misra-Gries heavy hitters (state: buckets × k) --
      locally {
        val in = MemoryStream[String]
        val q = Streaming.heavyHittersStream(in.toDF().toDF("item"),
            "item", k = 20, buckets = 16)
          .writeStream.format("memory").queryName(s"hh_$volume")
          .outputMode(OutputMode.Append()).start()
        val gen = (b: Int) => (0 until rpb).map { i =>
          val id = b.toLong * rpb + i
          // skewed: a tenth of the stream is 8 hot items
          if (id % 10 == 0) s"hot${id % 8}" else s"cold${id % 5000}"
        }
        val (w, s) = drive(in, q, gen, stateRows(q))
        results :+= Row("heavy_hitters", volume, rows, w, s, "state rows",
          "≤ buckets(16) × k(20) = 320", "const")
      }

      // -- TxStore upsert sink (table: fixed 5k-key space, updates) --
      locally {
        val in = MemoryStream[(Long, Timestamp, Long, String, Double)]
        val df = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
        val root = mk("upsert_tbl"); val chk = mk("upsert_chk")
        val q = Streaming.upsertSink(df, root, Seq("event_id"), chk)
        val gen = (b: Int) => (0 until rpb).map { i =>
          val id = b.toLong * rpb + i
          (id % 5000, new Timestamp(base + b * 1800000L), id % 500,
            s"t${id % 8}", (id % 1000) / 10.0)
        }
        val (w, s) = drive(in, q, gen, () => tableBytes(root))
        results :+= Row("txstore_upsert", volume, rows, w, s, "table bytes",
          "5k-row key space (MERGE, not append)", "const")
      }

      // -- curation sink (corpus admits only novel docs) --
      locally {
        val in = MemoryStream[(Long, String)]
        val df = in.toDF().toDF("doc_id", "text")
        val root = mk("cur_tbl"); val chk = mk("cur_chk")
        val q = Streaming.curationSink(df, root, tau = 0.6, chk)
        val docRpb = math.max(20, rpb / 40) // joins are per-doc heavy
        // novelty rate is FIXED (10 novel docs/batch); everything else
        // near-duplicates 25 templates — so ×4 input volume means ×4
        // REJECTIONS and an unchanged corpus, the admission contract
        val gen = (b: Int) => (0 until docRpb).map { i =>
          val id = b.toLong * docRpb + i
          val words = (0 until 30).map { j =>
            if (i < 10) s"w${(id * 31 + j) % 999983}"
            else s"w${(id % 25) * 37 + j}"
          }
          (id, words.mkString(" "))
        }
        val (w, s) = drive(in, q, gen, () => tableBytes(root))
        results :+= Row("curation", volume, batches.toLong * docRpb, w, s,
          "table bytes",
          "novel docs only (fixed novelty rate ⇒ volume-independent corpus)",
          "const")
      }

      // -- curation sink, ALL-novel stream (corpus grows a full batch
      //    per batch — the stress case for per-batch admission cost;
      //    the gram-bloom gate must keep it ∝ batch, not ∝ corpus) --
      locally {
        val in = MemoryStream[(Long, String)]
        val df = in.toDF().toDF("doc_id", "text")
        val root = mk("curg_tbl"); val chk = mk("curg_chk")
        val q = Streaming.curationSink(df, root, tau = 0.6, chk)
        val docRpb = math.max(20, rpb / 40)
        val gen = (b: Int) => (0 until docRpb).map { i =>
          val id = b.toLong * docRpb + i
          (id, (0 until 30).map(j => s"w${(id * 131 + j * 7919) % 9999991}")
            .mkString(" "))
        }
        val (w, s) = driveTimed(in, q, gen)
        results :+= Row("curation_growing", volume, batches.toLong * docRpb, w, s,
          "batch ms",
          "gram-bloom gate: admission cost ∝ batch (corpus grows; cost must not)",
          "flat")
      }

      // -- HLL sketch table (per-key distinct counts) --
      locally {
        val in = MemoryStream[(String, String)]
        val df = in.toDF().toDF("k", "tok")
        val path = mk("hll_tbl"); val chk = mk("hll_chk")
        val q = Streaming.sketchSink(df, "k", "tok", path, chk, lgK = 12)
        val gen = (b: Int) => (0 until rpb).map { i =>
          val id = b.toLong * rpb + i
          (s"k${id % 20}", s"tok${id % 100000}")
        }
        val (w, s) = drive(in, q, gen, () => sketchBytes(path))
        results :+= Row("hll_sketches", volume, rows, w, s, "table bytes",
          "20 keys × 2^12 registers", "const")
      }

      // -- KLL quantile table (per-key rank statistics) --
      locally {
        val in = MemoryStream[(String, Double)]
        val df = in.toDF().toDF("k", "v")
        val path = mk("kll_tbl"); val chk = mk("kll_chk")
        val q = Streaming.quantileSink(df, "k", "v", path, chk, k = 128)
        val gen = (b: Int) => (0 until rpb).map { i =>
          val id = b.toLong * rpb + i
          (s"k${id % 20}", (id % 100000).toDouble)
        }
        val (w, s) = drive(in, q, gen, () => sketchBytes(path))
        results :+= Row("kll_quantiles", volume, rows, w, s, "table bytes",
          "20 keys × KLL(128) — O(k log(n/k)), logarithmic in input", "const")
      }

      // -- live IVF index sink (append cost ∝ batch, not index size) --
      locally {
        val in = MemoryStream[(Long, Seq[Float])]
        val df = in.toDF().toDF("vec_id", "embedding")
        val path = mk("ivf_idx"); val chk = mk("ivf_chk")
        // fixed quantizer trained once on a deterministic seed set —
        // the sink's contract (retraining is a separate, rarer event)
        val seedVecs = spark.range(512).select(col("id").as("vec_id"),
          expr("transform(sequence(0, 15), i -> " +
            "cast(sin(vec_id * 0.37 + i * 1.3) as float))").as("embedding"))
        val cents = graft.ops.VectorSearch.trainCentroids(
          seedVecs, "vec_id", "embedding", c = 16, iters = 2)
        val q = Streaming.ivfIndexSink(df, "vec_id", "embedding", cents,
          path, chk)
        val vecRpb = math.max(100, rpb / 4)
        val gen = (b: Int) => (0 until vecRpb).map { i =>
          val id = b.toLong * vecRpb + i
          (id, (0 until 16).map(j => math.sin(id * 0.37 + j * 1.3).toFloat))
        }
        val (w, s) = driveTimed(in, q, gen)
        results :+= Row("ivf_index", volume, batches.toLong * vecRpb, w, s,
          "batch ms",
          "append cost ∝ batch (index grows with corpus; cost must not)",
          "flat")
      }

      // -- decontamination sink (bloom-gated gram check, cost ∝ batch) --
      locally {
        val in = MemoryStream[(Long, String)]
        val df = in.toDF().toDF("doc_id", "text")
        val root = mk("decon_tbl"); val chk = mk("decon_chk")
        val bench = spark.range(50).select(col("id").as("doc_id"),
          expr("""concat_ws(' ', transform(sequence(0, 19),
            j -> concat('bench', id * 20 + j)))""").as("text"))
        val q = Streaming.decontaminationSink(df, bench, root, n = 8, chk)
        val docRpb = math.max(50, rpb / 20)
        val gen = (b: Int) => (0 until docRpb).map { i =>
          val id = b.toLong * docRpb + i
          // 1 in 5 docs contaminated: carries a verbatim bench 8-gram
          val words =
            if (id % 5 == 0)
              (0 until 8).map(j => s"bench${(id % 50) * 20 + j}") ++
                (8 until 20).map(j => s"c${id}w$j")
            else (0 until 20).map(j => s"c${id}w$j")
          (id, words.mkString(" "))
        }
        val (w, s) = driveTimed(in, q, gen)
        results :+= Row("decontamination", volume, batches.toLong * docRpb, w, s,
          "batch ms",
          "per-batch bloom gate + exact join on survivors; cost ∝ batch",
          "flat")
      }
    }

    val rpbSmall = sys.env.getOrElse("SPARK_GRAFT_STREAM_RPB", "2000").toInt
    run("x1", rpbSmall)
    run("x4", rpbSmall * 4)

    // ---- render ----
    def fmtSeries(s: Seq[Long]): String = {
      val picks = Seq(0, batches / 4, batches / 2, 3 * batches / 4, batches - 1)
      picks.map(i => s(i)).mkString(" → ")
    }
    val sb = new StringBuilder
    sb ++= "# STREAM — streaming sink throughput and state-boundedness\n\n"
    sb ++= s"Generated by `graft.tools.StreamBench`: every sink driven through a\n"
    sb ++= s"MemoryStream for $batches microbatches at two input volumes (×4 apart),\n"
    sb ++= "event time advancing 30 min per batch so watermarks move and windows\n"
    sb ++= "close. `state trajectory` samples the sink's live state after batches\n"
    sb ++= "1, 25%, 50%, 75%, last — engine sinks report the state store's own row\n"
    sb ++= "count, table sinks the CURRENT committed version's bytes (older\n"
    sb ++= "versions are retention policy, not state). The boundedness claim each\n"
    sb ++= "sink's Scaladoc makes is falsifiable here twice over: the trajectory\n"
    sb ++= "must plateau within a run, and the ×4 run's final state must sit near\n"
    sb ++= "the ×1 run's (same key space), not at 4× it. Throughput is end-to-end\n"
    sb ++= "(driver-paced `processAllAvailable`, so it is a floor: no trigger\n"
    sb ++= "pipelining, single machine). Every stateful sink and table sink in\n"
    sb ++= "`graft.streaming.Streaming` is measured; the one omission is `enrich`\n"
    sb ++= "(stream–static broadcast join) because it is STATELESS by\n"
    sb ++= "construction — there is no state trajectory to bound.\n\n"
    sb ++= "| sink | volume | input rows | wall s | rows/s | state trajectory (b1 → last) | unit | stated bound |\n"
    sb ++= "|---|---|---|---|---|---|---|---|\n"
    results.foreach { r =>
      sb ++= f"| ${r.sink} | ${r.volume} | ${r.rows} | ${r.wallSec}%.1f | ${r.rows / r.wallSec}%.0f | ${fmtSeries(r.series)} | ${r.unit} | ${r.bound} |\n"
    }
    sb ++= "\n## Reading the table\n\n"
    results.groupBy(_.sink).toSeq.sortBy(_._1).foreach { case (sink, rs) =>
      val x1 = rs.find(_.volume == "x1").get
      val x4 = rs.find(_.volume == "x4").get
      val ratio =
        if (x1.expect == "flat") {
          def m(v: Seq[Long]) = v.sorted.apply(v.size / 2).toDouble
          m(x4.series) / math.max(1.0, m(x1.series))
        } else x4.series.last.toDouble / math.max(1L, x1.series.last)
      val plateau1 = x1.series.last <= math.max(1L,
        (x1.series(3 * batches / 4) * 1.3).toLong)
      def med(v: Seq[Long]) = v.sorted.apply(v.size / 2)
      val verdict = x1.expect match {
        case "const" if ratio < 2.0 =>
          "bounded by the stated key/sketch space — NOT input volume."
        case "rate" if plateau1 && ratio < 5.0 =>
          "plateaus within each run at rate × horizon; ×4 arrival rate " +
            "⇒ ×4 plateau, never ∝ total stream length — the stated contract."
        case "flat"
          if x1.series.drop(batches / 2).max <= 3 * math.max(1L, med(x1.series)) &&
            x4.series.drop(batches / 2).max <= 3 * math.max(1L, med(x4.series)) =>
          "per-batch cost stays flat as the accumulated artifact grows " +
            "(no dependence on index/corpus size) — the append contract."
        case _ => "OUT OF CONTRACT — investigate."
      }
      val label = if (x1.expect == "flat") "median batch ms" else "final state"
      sb ++= f"- **$sink** — $label ×4/×1 = ×$ratio%.2f on ×4 input; $verdict\n"
    }
    Files.writeString(Paths.get("STREAM.md"), sb.result())
    println(sb.result())
    spark.stop()
  }
}
