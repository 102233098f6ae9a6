package graft

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.ops.Bloom

/** The JVM-side bloom ([[Bloom.Filter]]) the curation sink grows and
  * probes per gram: its probe ([[Bloom.Filter.mightContainString]]) has
  * no false negatives and keeps near its design FP rate, and its
  * incremental-union algebra (empty ∪ build == build; union idempotent)
  * is what makes the streaming-maintained corpus bloom replay-safe
  * without batch-id bookkeeping.
  */
class BloomFilterSpec extends SparkSuite {
  import spark.implicits._

  private val members  = (0 until 500).map(i => s"member_$i")
  private val absentees = (0 until 500).map(i => s"absent_$i")
  private val mBits = 1L << 13 // ~16 bits per member

  /** The bits `keys` set, straight from the filter's hash definition. */
  private def bitsOf(keys: Seq[String], k: Int = 5): Array[Long] = {
    val words = new Array[Long]((mBits / 64).toInt)
    for (key <- keys; i <- 0 until k) {
      val h = XxHash64Function.hash(i, IntegerType,
        XxHash64Function.hash(UTF8String.fromString(key), StringType, 42L))
      val pos = java.lang.Math.floorMod(h, mBits)
      words((pos / 64).toInt) |= 1L << (pos % 64).toInt
    }
    words
  }

  test("JVM filter: no false negatives, absentee FPs within the design bound") {
    val f = Bloom.union(Bloom.empty(mBits), members.toDF("k"), "k")
    assert(members.forall(f.mightContainString))
    // 500 keys in 8 Ki bits at k = 5 predicts ~0.1% FP
    val fps = absentees.filter(f.mightContainString)
    assert(fps.size <= 25, s"FP rate blew the design bound: $fps")
  }

  test("union algebra: empty∪build == build, re-union is a no-op, growth is monotone") {
    val viaEmpty = Bloom.union(Bloom.empty(mBits), members.toDF("k"), "k")
    assert(viaEmpty.words.sameElements(bitsOf(members)))
    // idempotent: absorbing the same batch twice changes nothing —
    // the property that makes crash-replay maintenance safe
    val again = Bloom.union(viaEmpty, members.toDF("k"), "k")
    assert(again.words.sameElements(viaEmpty.words))
    // monotone: a second batch only ever sets bits
    val grown = Bloom.union(viaEmpty, absentees.toDF("k"), "k")
    assert(viaEmpty.words.zip(grown.words).forall {
      case (before, after) => (before & ~after) == 0L
    })
    assert(absentees.forall(grown.mightContainString))
  }

  test("sizeFor doubles to the FP target and hard-caps at RegenMaxBits") {
    // ordinary regen: doubled geometry meets the target
    val m = Bloom.sizeFor(n = 1000000L, targetFp = 0.01, fromBits = 1L << 20)
    assert(m > (1L << 20) && m <= Bloom.RegenMaxBits)
    assert(Bloom.predictedFp(m, 5, 1000000L) <= 0.01)
    // power-of-two discipline (bit positions depend on mBits)
    assert(java.lang.Long.bitCount(m) == 1)
    // a key count no single broadcastable filter can serve caps at
    // RegenMaxBits (16 MiB) instead of growing into an unbroadcastable
    // word table — correctness is unaffected (hotter bloom = more FP
    // suspects into the exact join), the caller is told to shard
    assert(Bloom.sizeFor(n = Long.MaxValue, targetFp = 0.01,
      fromBits = 1L << 20) == Bloom.RegenMaxBits)
    assert(Bloom.sizeFor(n = 1L << 40, targetFp = 0.01,
      fromBits = Bloom.RegenMaxBits) == Bloom.RegenMaxBits)
  }
}
