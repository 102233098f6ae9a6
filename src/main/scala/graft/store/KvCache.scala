package graft.store

import java.time.LocalDateTime
import java.time.ZoneOffset

import org.apache.spark.sql.{SaveMode, SparkSession}

/** S11 — KV cache with TTL, stale-acceptable fallback and hit counting
  * (reference `cache/duckdb_store.py:129-251`). Cache metadata is
  * driver-scale by construction (one entry per dataset×params, not per
  * row), so entries live in memory and persist to a parquet table;
  * at deployment scale this sits behind a Delta table or a real KV
  * store — the semantics (expiry, staleness window, hit accounting,
  * legacy-key migration) are what the engine contracts on.
  */
final case class CacheEntry(key: String, value: String,
    createdAtEpochSec: Long, ttlSeconds: Long, staleMaxSeconds: Long,
    hitCount: Long)

final case class CacheHit(value: String, expired: Boolean, staleAcceptable: Boolean)

final class KvCache(spark: SparkSession, path: String,
    maxEntries: Long = KvCache.DefaultMaxEntries) {

  private val entries = scala.collection.concurrent.TrieMap.empty[String, CacheEntry]

  private def epoch(t: LocalDateTime): Long = t.toEpochSecond(ZoneOffset.UTC)

  def put(key: String, value: String, ttlSeconds: Long,
      staleMaxSeconds: Long, now: LocalDateTime): Unit =
    entries.put(key, CacheEntry(key, value, epoch(now), ttlSeconds,
      staleMaxSeconds, 0L))

  /** A hit may be fresh, expired-but-stale-acceptable, or gone (past
    * the stale window → None). Hits bump the counter.
    */
  def get(key: String, now: LocalDateTime): Option[CacheHit] =
    entries.get(key).flatMap { e =>
      val age = epoch(now) - e.createdAtEpochSec
      if (age > e.staleMaxSeconds) { entries.remove(key); None }
      else {
        entries.put(key, e.copy(hitCount = e.hitCount + 1))
        Some(CacheHit(e.value, expired = age > e.ttlSeconds,
          staleAcceptable = age > e.ttlSeconds))
      }
    }

  def hitCount(key: String): Long = entries.get(key).map(_.hitCount).getOrElse(0L)

  /** Drop entries: all of them, one source's (key prefix up to the
    * first `|`), or only those older than `olderThanSeconds` — the
    * reference's `cache clear [--source] [--older-than]` surface.
    * Returns how many were removed.
    */
  def clear(source: Option[String] = None,
      olderThanSeconds: Option[Long] = None,
      now: LocalDateTime = LocalDateTime.now(ZoneOffset.UTC)): Int = {
    val cutoff = olderThanSeconds.map(epoch(now) - _)
    val doomed = entries.values.filter { e =>
      source.forall(s => e.key.takeWhile(_ != '|') == s) &&
        cutoff.forall(e.createdAtEpochSec < _)
    }.map(_.key).toSeq
    doomed.foreach(entries.remove)
    doomed.size
  }

  /** Drop pre-versioning keys (reference legacy-key migration,
    * `cache/duckdb_store.py:216-251`).
    */
  def purgeLegacyKeys(): Int = {
    val legacy = entries.keys.filter(Policies.isLegacyKey).toSeq
    legacy.foreach(entries.remove)
    legacy.size
  }

  def persist(): Unit = {
    import spark.implicits._
    entries.values.toSeq.toDS().write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Loads the whole table into driver memory — in-scope for S11: the
    * reference KV cache is MB-scale METADATA (one entry per
    * dataset×params, reference `cache/duckdb_store.py:19-46`), never
    * per-row data. The guard makes that boundary a contract: a table
    * someone grew past [[KvCache.DefaultMaxEntries]] fails loudly here
    * instead of silently OOM-ing the driver — at that size the right
    * home is a predicate-pushed fact table (S7), not a KV map.
    */
  def load(): Unit = {
    import spark.implicits._
    val df = Skipping.readParquet(spark, path)
    val n = df.count()
    require(n <= maxEntries,
      s"KvCache at $path has $n entries (> $maxEntries): this is no longer " +
        "driver-scale metadata — store it as a fact table, not a KV cache")
    entries.clear()
    df.as[CacheEntry].collect().foreach(e => entries.put(e.key, e))
  }
}

object KvCache {
  /** One entry per dataset×params keeps real caches in the hundreds;
    * 100k entries (~tens of MB) is already two orders past any
    * legitimate use and still loads safely.
    */
  val DefaultMaxEntries: Long = 100000L
}
