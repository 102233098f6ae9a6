package graft

import org.apache.spark.util.sketch.BloomFilter
import graft.streaming.Streaming

/** The gram bloom the curation sink grows and probes per gram: Spark's
  * `bloom_filter_agg` collected as a [[BloomFilter]]
  * ([[Streaming.gramBloom]]). Its probe (`mightContainString`) has no
  * false negatives and keeps near its design FP rate, and its merge
  * algebra (re-merging a batch is a no-op; a new batch only adds
  * members) is what makes the streaming-maintained corpus bloom
  * replay-safe without batch-id bookkeeping.
  */
class BloomFilterSpec extends SparkSuite {
  import spark.implicits._

  private val members  = (0 until 500).map(i => s"member_$i")
  private val absentees = (0 until 500).map(i => s"absent_$i")
  private val bits = 1L << 13 // ~16 bits per member

  private def bloomOf(keys: Seq[String]): BloomFilter =
    Streaming.gramBloom(keys.toDF("g"), bits).get

  private def bytes(f: BloomFilter): Seq[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    f.writeTo(out)
    out.toByteArray.toSeq
  }

  test("JVM filter: no false negatives, absentee FPs within the design bound") {
    val f = bloomOf(members)
    assert(members.forall(f.mightContainString))
    // 500 keys in 8 Ki bits at k = 7 predicts ~0.05% FP
    val fps = absentees.filter(f.mightContainString)
    assert(fps.size <= 25, s"FP rate blew the design bound: $fps")
    assert(f.expectedFpp() < 0.01)
    // the size is the only geometry: no grams collect no filter
    assert(f.bitSize() == bits)
    assert(Streaming.gramBloom(Seq.empty[String].toDF("g"), bits).isEmpty)
  }

  test("merge algebra: re-merging a batch is a no-op, growth is monotone") {
    val held = bloomOf(members)
    val before = bytes(held)
    // idempotent: absorbing the same batch twice changes nothing —
    // the property that makes crash-replay maintenance safe
    val batch = bloomOf(members)
    assert(held.isCompatible(batch))
    held.mergeInPlace(batch)
    assert(bytes(held) == before)
    // monotone: a second batch only ever sets bits
    held.mergeInPlace(bloomOf(absentees))
    assert(held.bitSize() == bits)
    assert((members ++ absentees).forall(held.mightContainString))
    // every bit set before is still set: before ∪ after == after
    assert(bytes(BloomFilter.readFrom(before.toArray).mergeInPlace(held)) == bytes(held))
    assert(held.cardinality() > BloomFilter.readFrom(before.toArray).cardinality())
    // the persisted form reads back to the same filter
    assert(bytes(BloomFilter.readFrom(bytes(held).toArray)) == bytes(held))
  }
}
