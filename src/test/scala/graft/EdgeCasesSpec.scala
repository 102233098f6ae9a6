package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Frequency, VectorSearch => V}
import graft.store.{Store, TxStore}

/** Degenerate inputs for the late-round operators: empty frames, k
  * larger than the data, batches with nothing to match — the shapes a
  * scheduled pipeline hits on a quiet day and must pass through
  * silently, not crash on.
  */
class EdgeCasesSpec extends SparkSuite {
  import spark.implicits._

  test("heavy hitters: empty input and k beyond the distinct count") {
    val empty = spark.emptyDataset[String].toDF("token")
    assert(Frequency.heavyHitters(empty, "token", 9).count() == 0)
    // 3 distinct values, k = 1000: thresholds degenerate but stay exact
    val tiny = Seq("a", "a", "a", "b", "c").toDF("token")
    val got = Frequency.heavyHitters(tiny, "token", 999)
      .as[(String, Long)].collect().toMap
    // every value with freq*1000 > 5 qualifies — i.e. all of them
    assert(got == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    assert(Frequency.mgCandidates(tiny, "token", 1).count() <= tiny.rdd.getNumPartitions)
  }

  test("batchTopK: k beyond group size, and empty scored input") {
    val scored = Seq((1L, 10L, 0.5), (1L, 11L, 0.4)).toDF("qid", "id", "sim")
    assert(V.batchTopK(scored, "qid", "id", "sim", 100).count() == 2)
    val empty = spark.emptyDataset[(Long, Long, Double)]
      .toDF("qid", "id", "sim")
    assert(V.batchTopK(empty, "qid", "id", "sim", 5).count() == 0)
  }

  test("incremental dedup: empty batch, batch with nothing in common") {
    val corpus = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val empty = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.ngramJaccardJoin(corpus, empty, $"doc_id", $"text").count() == 0)
    val disjoint = Seq((9L, "one two three four five six")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardJoin(corpus, disjoint, $"doc_id", $"text").count() == 0)
  }

  test("SCD2 merge with an empty change batch leaves the dim untouched") {
    val dim = Seq((1L, 10.0)).toDF("k", "bal")
      .withColumn("valid_from", to_date(lit("2020-01-01")))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
    val changes = spark.emptyDataset[(Long, Double)].toDF("k", "bal")
      .withColumn("change_date", to_date(lit("2021-01-01")))
    val out = Store.scd2Merge(dim, changes, Seq("k"), Seq("bal"))
    assert(out.collect().toSet == dim.collect().toSet)
  }

  test("retention beyond history and empty-history paths are no-ops") {
    val root = java.nio.file.Files.createTempDirectory("graft_edge")
      .resolve("t").toString
    assert(TxStore.expireVersions(root, 3).isEmpty) // uninitialized table
    TxStore.init(Seq((1L, 1.0)).toDF("k", "v"), root)
    assert(TxStore.expireVersions(root, 10).isEmpty) // nothing old enough
    assert(TxStore.read(spark, root).count() == 1)
  }

  test("curation ops: short/empty docs pass through, never crash") {
    import graft.ops.Curation
    val docs = Seq(
      (1L, ""),                       // empty
      (2L, "single"),                 // below every gram size
      (3L, "two tokens"),             // bigrams only
      (4L, "alpha beta gamma delta echo fox golf hotel"),
      (5L, "alpha beta gamma delta echo fox golf hotel")) // exact dup of 4
      .toDF("doc_id", "text")
    // repetition: docs with < 3 tokens drop (no trigram to judge)
    val rep = Curation.repetitionStats(docs, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(rep == Set(4L, 5L))
    // spans: only the 4/5 pair duplicates; whole-doc span on both
    val spans = Curation.duplicateSpans(docs, "doc_id", "text", k = 5)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(spans == Set((4L, 1L, 8L, 4L), (5L, 1L, 8L, 4L)))
    // scrubbing everything leaves structurally valid empty docs
    val scrubbed = Curation.scrubSpans(docs, Curation.duplicateSpans(
        docs, "doc_id", "text", k = 5), "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(scrubbed(4L) == "" && scrubbed(5L) == "")
    assert(scrubbed(3L) == "two tokens")
    // decontamination with an EMPTY benchmark flags nothing
    val bench = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
    assert(Curation.decontaminate(docs, bench, "doc_id", "text").count() == 0)
    // containment with empty probes is empty, not an error
    assert(Dedup.containmentJoin(docs, bench, col("doc_id"), col("text"))
      .count() == 0)
  }

  test("round-4 ops: empty/degenerate inputs never crash, bloom with empty build prunes everything") {
    import graft.ops.{Bloom, Curation, VectorSearch => V}
    val emptyDocs = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
    val docs = Seq((1L, "alpha beta"), (2L, "")).toDF("doc_id", "text")
    // bloom over an EMPTY build side: the filter is null, every probe
    // row is pruned, pruned join == plain join == empty
    assert(Bloom.gate(docs, "doc_id", emptyDocs.select($"doc_id".as("k")), "k").count() == 0)
    assert(Bloom.prunedJoin(docs, emptyDocs.select($"doc_id".as("k"), $"text".as("t")),
      "doc_id", "k", nBuildRows = Some(0L)).count() == 0)
    // bloom-gated decontamination with an empty benchmark flags nothing
    assert(Curation.decontaminateBloom(docs, emptyDocs, "doc_id", "text").count() == 0)
    // semDedup on a single vector and on an empty frame
    val one = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val cents = Array(Seq(1.0f, 0.0f))
    assert(V.semDedup(one, "vec_id", "embedding", cents, tau = 0.9).count() == 1)
    val noVecs = spark.emptyDataset[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(V.semDedup(noVecs, "vec_id", "embedding", cents, tau = 0.9).count() == 0)
    // truncatedRerank with k larger than the corpus
    val tiny = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    assert(V.truncatedRerank(tiny, one, "embedding", Seq("vec_id"),
      coarseDims = 1, shortlist = 100, k = 10).count() == 2)
  }

  test("payload chunking: empty payload yields no chunks, reassembly skips it") {
    import graft.ops.Multimodal
    val media = Seq((1L, "png", Array[Byte]()), (2L, "png", "abcdef".getBytes("UTF-8")))
      .toDF("doc_id", "format", "payload")
    val chunks = Multimodal.chunkPayload(media, chunkBytes = 4)
    val byDoc = chunks.groupBy($"doc_id").count()
      .as[(Long, Long)].collect().toMap
    assert(!byDoc.contains(1L) && byDoc(2L) == 2L) // 4 + 2 bytes
    val rebuilt = Multimodal.reassemble(chunks)
      .select($"doc_id", $"payload").as[(Long, Array[Byte])].collect().toMap
    assert(new String(rebuilt(2L), "UTF-8") == "abcdef")
  }

  test("knnGraph: empty input, and k beyond the corpus") {
    val empty = spark.emptyDataset[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val cents = Array(Seq.fill(4)(0.0f))
    assert(V.knnGraph(empty, "vec_id", "embedding", cents, k = 3).count() == 0)
    val two = Seq((1L, Seq(1.0f, 0f, 0f, 0f)), (2L, Seq(0.9f, 0.1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    // k far beyond corpus: each node still gets its single real neighbor
    val g = V.knnGraph(two, "vec_id", "embedding", cents, k = 100)
      .select(col("src_id"), col("nbr_id")).as[(Long, Long)].collect().toSet
    assert(g == Set((1L, 2L), (2L, 1L)))
  }

  test("model trainers fail fast (not NaN) on empty or degenerate input") {
    val empty = spark.emptyDataset[(Seq[Float], Double)].toDF("v", "y")
    intercept[IllegalArgumentException] {
      graft.ops.Model.trainLogReg(empty, "v", col("y"), dims = 4, epochs = 1)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Model.powerIterationPc1(
        empty.select(col("v")), "v", dims = 4, iters = 1)
    }
    // zero-variance corpus: no principal direction exists
    val const = Seq.fill(5)(Seq(1.0f, 2.0f, 3.0f, 4.0f)).toDF("v")
    intercept[IllegalArgumentException] {
      graft.ops.Model.powerIterationPc1(const, "v", dims = 4, iters = 1)
    }
  }

  test("hammingPairsFromSketch: empty sketch table yields no pairs") {
    val empty = spark.emptyDataset[(Long, Long)].toDF("doc_id", "phash")
    assert(Dedup.hammingPairsFromSketch(empty, col("doc_id"), col("phash"),
      bands = 4, maxHamming = 3).count() == 0)
  }

  test("round-8 primitives: empty/degenerate inputs never crash") {
    import graft.functions.{GraftFunctions => G}
    // topk_by over an empty frame: no groups, no rows
    val emptyRows = spark.emptyDataset[(Long, Double, Long, String)]
      .toDF("g", "ord", "id", "p")
    assert(emptyRows.groupBy(col("g"))
      .agg(G.topKBy(col("ord"), col("id"), col("p"), 3).as("t")).count() == 0)
    // kll on a single value: every quantile IS that value
    val one = Seq(42.0).toDF("v")
      .agg(G.kllQuantiles(col("v"), 64, Seq(0.0, 0.5, 1.0)).as("q"))
      .head().getSeq[Double](0)
    assert(one == Seq(42.0, 42.0, 42.0))
    // SQ8 with a single row: zero spans everywhere, decode returns mins
    val vec = Seq(Tuple1(Seq(1.0, -2.0))).toDF("v")
    val (mins, maxs) = graft.ops.VectorSearch.trainSqBounds(vec, "v")
    assert(mins.toSeq == Seq(1.0, -2.0) && maxs.toSeq == Seq(1.0, -2.0))
    val dec = vec.select(graft.ops.VectorSearch.sqDecode(
        graft.ops.VectorSearch.sqEncode(col("v"), mins, maxs), mins, maxs).as("d"))
      .head().getSeq[Double](0)
    assert(dec == Seq(1.0, -2.0))
    // kll sketch-merge over zero sketches: empty binary aggregate input
    val noSketch = spark.emptyDataset[Array[Byte]].toDF("sk")
      .agg(G.kllMergeAgg(col("sk")).as("m"))
      .select(G.kllSketchQuantiles(col("m"), Seq(0.5)).as("q"))
      .head().getSeq[Double](0)
    assert(noSketch.forall(_.isNaN))
  }

  test("graph analytics: empty/degenerate edge sets never crash") {
    import graft.ops.Graph
    val noEdges = spark.emptyDataset[(Long, Long)].toDF("src", "dst")
    // pagerank over nothing: no nodes, no rows, no division by zero
    assert(Graph.pageRank(noEdges, iterations = 2).count() == 0)
    // triangle count over nothing: one summary row of zeros
    assert(Graph.triangleCount(noEdges)
      .as[(Long, Long, Long)].head() == ((0L, 0L, 0L)))
    // triangle count of only self-loops: normalized away to zeros
    assert(Graph.triangleCount(Seq((5L, 5L), (7L, 7L)).toDF("x", "y"))
      .as[(Long, Long, Long)].head() == ((0L, 0L, 0L)))
    // hierarchy of nothing / of only roots
    assert(Graph.flattenHierarchy(
      spark.emptyDataset[(Long, Option[Long])].toDF("node", "parent")).count() == 0)
    val roots = Graph.flattenHierarchy(
        Seq((1L, None: Option[Long]), (2L, None: Option[Long])).toDF("node", "parent"))
      .as[(Long, Long, Long)].collect().toSet
    assert(roots == Set((1L, 1L, 0L), (2L, 2L, 0L)))
    // single-node pagerank: full teleport mass, one iteration settles
    val self = Graph.pageRank(Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"), 1)
      .as[(Long, Long)].collect().toMap
    assert(self(1L) == self(2L))
  }

  test("MV rewrite: two registered summaries, the matching base wins") {
    import graft.plans.MvRewrite
    import org.apache.spark.sql.execution.FileSourceScanExec
    val tmp = java.nio.file.Files.createTempDirectory("graft_mv_two")
    def write(name: String, mod: Int): String = {
      val p = tmp.resolve(name).toString
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .filter(pmod(col("o_orderkey"), lit(2)) === mod)
        .write.parquet(p)
      p
    }
    val pA = write("ordersA", 0)
    val pB = write("ordersB", 1)
    MvRewrite.clear()
    Seq(("mvA", pA), ("mvB", pB)).foreach { case (n, p) =>
      val base = spark.read.parquet(p)
      val mvPath = tmp.resolve(n).toString
      base.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .write.parquet(mvPath)
      MvRewrite.register(n, base,
        keys = Seq((col("o_orderstatus"), "o_orderstatus")),
        measures = Seq(("count", lit(1L), "n")),
        mv = spark.read.parquet(mvPath))
    }
    if (!spark.experimental.extraOptimizations.contains(MvRewrite.RewriteAggregateToMv))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewrite.RewriteAggregateToMv
    val q = spark.read.parquet(pB).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    val paths = planNodes(q).collect {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(paths.exists(_.contains("mvB")) && !paths.exists(_.contains("mvA")),
      s"the B summary must answer the B base: $paths")
    MvRewrite.clear()
  }
}
