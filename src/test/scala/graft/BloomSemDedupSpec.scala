package graft

import org.apache.spark.sql.functions._
import graft.ops.{Bloom, VectorSearch => V}

/** Bloom join reduction + SemDeDup — the two round-4 operators whose
  * approximation must be INVISIBLE in results (bloom FPs die in the
  * exact join; SemDeDup at C=1 equals brute force, and planted exact
  * duplicates must die at any C because identical vectors share a
  * cell).
  */
class BloomSemDedupSpec extends SparkSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("bloom filter: no false negatives, bounded false positives, real pruning") {
    val build = (0L until 500L).map(i => i * 7L).toDF("k")
    val f = Bloom.build(build, "k", nRows = 500)
    // every member answers true — bloom filters cannot false-negative
    assert(build.filter(!f.mightContain($"k")).count() === 0)
    // non-members: ~1% FP budget, asserted loosely at 5%
    val nonMembers = (0L until 2000L).map(i => i * 7L + 3L).toDF("k")
    val fps = nonMembers.filter(f.mightContain($"k")).count()
    assert(fps <= 100, s"false-positive rate too high: $fps/2000")
  }

  test("prunedJoin == plain join, and the probe side actually shrinks") {
    val spark2 = spark
    import spark2.implicits._
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .filter(year($"o_orderdate") === 1995)
      .select($"o_orderkey", $"o_orderdate")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val n = orders.count()
    val pruned = Bloom.prunedJoin(li, orders, "l_orderkey", "o_orderkey", n)
      .select($"l_orderkey", $"l_linenumber", $"o_orderdate")
    val plain = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .select($"l_orderkey", $"l_linenumber", $"o_orderdate")
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
    // the bloom must drop most non-matching probe rows before the join
    val f = Bloom.build(orders, "o_orderkey", n)
    val kept = li.filter(f.mightContain($"l_orderkey")).count()
    val total = li.count()
    val trueMatches = plain.count()
    assert(kept < total, "bloom pruned nothing")
    assert(kept <= trueMatches + (total - trueMatches) / 10,
      s"bloom kept $kept of $total (true matches $trueMatches) — FP rate way past design")
  }

  test("containment join: bloom-gated path == broadcast path on planted excerpts") {
    import graft.ops.Dedup
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    // d14's planting: every 17th doc yields a 15-token excerpt probe
    val probes = docs.filter(pmod($"doc_id", lit(17)) === 0)
      .select(($"doc_id" + 60000).as("doc_id"),
        concat_ws(" ", slice(split(trim($"text"), "\\s+"), 1, 15)).as("text"))
    def run(bloom: Boolean) =
      Dedup.containmentJoin(docs, probes, $"doc_id", $"text",
          k = 3, tau = 0.8, bloomGate = bloom)
        .select($"id_small", $"id_big", $"shared", $"containment")
        .as[(Long, Long, Long, Double)].collect().toSet
    val viaBroadcast = run(bloom = false)
    val viaBloom = run(bloom = true)
    assert(viaBloom == viaBroadcast,
      "bloom-gated containment must equal the broadcast path exactly")
    assert(viaBroadcast.nonEmpty, "planting produced no containment hits")
    // the gate is structural: the corpus shingle stream passes the
    // bit-test filter (element_at + shiftleft over the word table)
    // BEFORE any join — probe shingles never ride a forced broadcast.
    // (AQE may still choose a broadcast for a small probe side at test
    // scale; at production scale its size stats pick the shuffle join —
    // that adaptivity is the point of the bloom regime.)
    val gated = Dedup.containmentJoin(docs, probes, $"doc_id", $"text",
      k = 3, tau = 0.8, bloomGate = true)
    val hasBitTest = planNodes(gated).exists {
      case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.exists {
          case _: org.apache.spark.sql.catalyst.expressions.ShiftLeft => true
          case _ => false
        }
      case _ => false
    }
    assert(hasBitTest,
      "expected a Filter carrying the bloom bit-test (ShiftLeft over the word table) in the bloom-gated plan")
  }

  test("semDedup at C>1: planted exact duplicates always drop; pruning only ADDS survivors") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    // exact copies (cosine 1.0) — must land in the same cell at any C
    val planted = e.filter(pmod($"vec_id", lit(13)) === 0)
      .select(($"vec_id" + 10000).as("vec_id"), $"embedding")
    val all = e.unionByName(planted)
    val plantedIds = planted.select($"vec_id").as[Long].collect().toSet
    val c1 = V.trainCentroids(all, "vec_id", "embedding", c = 1, iters = 1)
    val c8 = V.trainCentroids(all, "vec_id", "embedding", c = 8, iters = 2)
    val s1 = V.semDedup(all, "vec_id", "embedding", c1, tau = 0.999)
      .select($"id").as[Long].collect().toSet
    val s8 = V.semDedup(all, "vec_id", "embedding", c8, tau = 0.999)
      .select($"id").as[Long].collect().toSet
    assert(plantedIds.intersect(s8).isEmpty, "planted copy survived at C=8")
    assert(plantedIds.intersect(s1).isEmpty, "planted copy survived at C=1")
    // C=1 sees every pair; clustering can only MISS cross-cell pairs,
    // so its drop set shrinks and its survivor set grows
    assert(s1.subsetOf(s8), "C=8 dropped a pair C=1 did not — impossible")
  }

  test("semDedup rejects a non-positive pairBudget at the call") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val c1 = V.trainCentroids(e, "vec_id", "embedding", c = 1, iters = 1)
    val err = intercept[IllegalArgumentException](
      V.semDedup(e, "vec_id", "embedding", c1, tau = 0.999, pairBudget = 0L))
    assert(err.getMessage.contains("pairBudget"))
  }

  test("semDedup blocking: a forced-hot cell splits into B² bucket keys, results identical") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val planted = e.filter(pmod($"vec_id", lit(13)) === 0)
      .select(($"vec_id" + 10000).as("vec_id"), $"embedding")
    val all = e.unionByName(planted)
    // C=1 puts the whole corpus in one cell — the exact one-hot-key
    // shape AQE cannot split. A tiny pair budget forces B > 1 so the
    // fragment-replicate path actually engages on this fixture.
    val c1 = V.trainCentroids(all, "vec_id", "embedding", c = 1, iters = 1)
    val blocked = V.semDedup(all, "vec_id", "embedding", c1, tau = 0.999,
      pairBudget = 64L) // sqrt = 8 → B = ceil(n/8) ≫ 1 at n ≈ 540
    val whole = V.semDedup(all, "vec_id", "embedding", c1, tau = 0.999)
    val sB = blocked.select($"id").as[Long].collect().sorted.toSeq
    val sW = whole.select($"id").as[Long].collect().sorted.toSeq
    assert(sB === sW, "blocked self-join changed the survivor set")
    // mechanism: the blocked plan joins on the bucket keys, the default
    // (B=1 at this size) plan must NOT pay the replication columns' cost
    // differently — both still join on cell plus buckets, but only the
    // forced plan can have >1 bucket per side. Assert the composite key
    // is in the plan and that the planted copies still always die.
    val plan = blocked.queryExecution.executedPlan.toString
    assert(plan.contains("_bi") && plan.contains("_bj"),
      "bucket keys missing from the blocked join plan")
    val plantedIds = planted.select($"vec_id").as[Long].collect().toSet
    assert(plantedIds.intersect(sB.toSet).isEmpty, "planted copy survived")
  }

  test("matryoshka rerank: planted neighbor recovered through a 16-dim coarse stage") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val query = e.filter($"vec_id" === 0)
    // planted near-copy of the query — near-identical in EVERY prefix
    val planted = query.select(lit(99999L).as("vec_id"),
      transform($"embedding", (x, i) => when(i === 0, x + lit(0.01f)).otherwise(x))
        .as("embedding"), lit(-1).as("label"))
    val base = e.filter($"vec_id" =!= 0).unionByName(planted)
    val top = V.truncatedRerank(base, query, "embedding",
        idCols = Seq("vec_id", "label"), coarseDims = 16, shortlist = 16, k = 10)
      .select($"vec_id").as[Long].collect()
    assert(top.head === 99999L, s"planted neighbor not top-1: ${top.toSeq}")
    // degenerate shortlist == corpus must equal brute force exactly
    val brute = V.bruteForceTopK(base, query, "embedding", 10)
      .orderBy($"sim".desc, $"vec_id").limit(10)
      .select($"vec_id").as[Long].collect().toSeq
    val degen = V.truncatedRerank(base, query, "embedding",
        idCols = Seq("vec_id", "label"), coarseDims = 16,
        shortlist = Int.MaxValue, k = 10)
      .select($"vec_id").as[Long].collect().toSeq
    assert(degen === brute)
  }

  test("q59 pigeonhole blocking finds exactly the brute-force hamming pairs") {
    val plen = 20
    val p = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", substring(lower(trim($"text")), 1, plen).as("pfx"))
      .filter(length($"pfx") === plen)
    val brute = p.select($"doc_id".as("id1"), $"pfx".as("p1"))
      .crossJoin(p.select($"doc_id".as("id2"), $"pfx".as("p2")))
      .filter($"id1" < $"id2")
      .withColumn("dist", expr("aggregate(sequence(1, 20), 0, " +
        "(acc, i) -> acc + IF(substr(p1, i, 1) <> substr(p2, i, 1), 1, 0))"))
      .filter($"dist" <= 3)
      .select($"id1", $"id2", $"dist")
    val blocked = queries.Relational3.q59.fn(spark, sf)
    assert(blocked.exceptAll(brute).isEmpty && brute.exceptAll(blocked).isEmpty)
  }
}
