package graft.store

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** File-level min/max data skipping — the second pruning tier of the
  * fact store. Directory partitioning ([[Store.writePartitioned]],
  * [[TxStore.initPartitioned]]) prunes on the partition key; the stats
  * sidecar built here prunes on any OTHER clustered column (a sorted or
  * range-partitioned layout makes per-file ranges narrow), the idea
  * behind Delta/Iceberg file statistics and parquet row-group min/max,
  * lifted to the file level where a planner can drop whole files from
  * the scan list before any I/O.
  *
  * The sidecar is one parquet table `(file, min_<c>, max_<c>, ...)`
  * computed in a single aggregate scan grouped by `_metadata.file_name`
  * and stored UNDER the data directory as `_stats` — the underscore
  * prefix keeps every normal table read blind to it. Stats rows are
  * metadata-scale (one per file), so collecting the pruned file list to
  * the driver is bounded by design.
  *
  * Sidecars are keyed by file NAME, not absolute path (same contract
  * as [[TxStore]]'s deletion vectors, and unpartitioned-layout-only
  * for the same reason): names survive the commit machinery that
  * moves or re-links whole directories — staging-claim renames,
  * RESTORE/clone hard-link carry-forward — where a recorded absolute
  * path would dangle. Readers resolve names against the directory
  * being read.
  */
object Skipping {

  private def statsPath(dir: String) = s"$dir/_stats"

  /** The parquet part-files of a sidecar directory, listed explicitly.
    * Sidecar dirs are underscore-prefixed so DATA reads stay blind to
    * them — but handing such a path straight to `spark.read` makes the
    * source's hidden-path filter log a `All paths were ignored` WARN
    * for every read (it still reads correctly). Passing the leaf files
    * avoids the warning and skips one driver-side glob.
    */
  private[store] def sidecarFiles(dir: String): Seq[String] = {
    val p = java.nio.file.Paths.get(dir)
    // fail CLOSED with a pointer to the fix: a version with no sidecar
    // (e.g. one minted by TxStore.commitAppend, which deliberately does
    // not carry the base's now-stale sidecars forward) must never be
    // answered from another version's stats — rebuild for this version
    if (!java.nio.file.Files.isDirectory(p))
      throw new IllegalStateException(
        s"no skipping sidecar at $dir — rebuild it for THIS version " +
          "(TxStore.writeStats/writeBloomStats) before skipping reads")
    val s = java.nio.file.Files.list(p)
    try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).toSeq
    finally s.close()
  }

  private def readSidecar(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(sidecarFiles(dir): _*)

  /** Resolve a sidecar `file` entry against the directory being read.
    * Current sidecars store bare file NAMES (see class doc); sidecars
    * written before that format change stored absolute URIs
    * (`file:///...` from `_metadata.file_path`). An absolute URI run
    * through the name-keyed prepend would produce a nonexistent
    * `$dir/file:/...` path and fail the read with no hint of the format
    * mismatch — so legacy rows (any value carrying a URI scheme) are
    * used verbatim instead. Rebuilding the sidecar upgrades it.
    */
  private def resolveFile(dir: String, stored: String): String =
    if (stored.contains(":/")) stored else s"$dir/$stored"

  /** Morton (Z-order) interleave of the low `bits` of two non-negative
    * integer columns — the multi-dimensional clustering key behind
    * Delta's OPTIMIZE ZORDER: range-partitioning + sorting on the
    * z-value keeps every file's range NARROW IN BOTH columns at once,
    * so the min/max sidecar prunes on either predicate column, where
    * single-column sorting only ever prunes on one. Plain shift/mask
    * arithmetic — stays in whole-stage codegen.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      val abit = shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
      val bbit = shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
      abit.bitwiseOR(bbit)
    }.reduce(_ bitwiseOR _)

  /** Z-order-clustered write: range-partition and sort by the Morton
    * code of the two clustering columns, so [[writeStats]] stats over
    * BOTH columns become selective. `numFiles` bounds the layout like
    * a compaction target.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int, bits: Int = 24): Unit = {
    val z = zValue(col(colA), col(colB), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Build (or rebuild) the min/max sidecar for `cols` over every
    * parquet file in `dir`. One scan; at real scale this folds into the
    * writer (collect stats while writing, as table formats do) — the
    * separate pass keeps plain-parquet tables retrofittable.
    */
  def writeStats(spark: SparkSession, dir: String, cols: Seq[String]): Unit = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(dir)
      .groupBy(col("_metadata.file_name").as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1) // one row per data file — metadata-scale
      .write.mode(SaveMode.Overwrite).parquet(statsPath(dir))
  }

  /** Files whose [min,max] interval for `c` intersects [lo, hi], plus
    * the total file count (for skip-rate reporting). Files with a null
    * min/max (all-null column chunk) are kept — pruning must never be
    * lossy.
    */
  def pruneFiles(spark: SparkSession, dir: String, c: String,
      lo: Column, hi: Column): (Seq[String], Long) = {
    val stats = readSidecar(spark, statsPath(dir))
    val total = stats.count()
    val kept = stats.filter(
        col(s"max_$c").isNull || col(s"min_$c").isNull ||
        (col(s"max_$c") >= lo && col(s"min_$c") <= hi))
      .select(col("file")).collect().map(r => resolveFile(dir, r.getString(0))).toSeq
    (kept, total)
  }

  /** Range read with file skipping: scan only the files that can
    * contain `c` ∈ [lo, hi], then apply the exact predicate (which
    * Catalyst additionally pushes into the surviving files' row
    * groups). Result is identical to a full scan + filter.
    */
  def readRange(spark: SparkSession, dir: String, c: String,
      lo: Column, hi: Column): DataFrame = {
    val (kept, _) = pruneFiles(spark, dir, c, lo, hi)
    val pred = col(c) >= lo && col(c) <= hi
    if (kept.isEmpty) spark.read.parquet(dir).filter(lit(false))
    else spark.read.parquet(kept: _*).filter(pred)
  }

  // ---- third pruning tier: per-file BLOOM sidecars (point lookups) ----
  //
  // min/max intervals prune RANGES on clustered columns; they are
  // useless for point lookups on a column the layout was not sorted by
  // (every file's interval spans the key). A small Bloom filter per
  // file answers "could this key be in this file?" for ANY layout —
  // Delta's bloom-filter-index idea on plain parquet. Build is one
  // distributed aggregate (k bit positions per row, bit_or per 64-bit
  // word, sparse words as a map — files only pay for bits they set);
  // the probe evaluates the k-bit test over the metadata-scale sidecar
  // and reads surviving files only. No false negatives by
  // construction, so pruning is never lossy; false positives only cost
  // an extra file read that the exact filter then empties.

  private def bloomPath(dir: String) = s"$dir/_blooms"

  /** 2^16 bits = 8 KiB/file: ~1% FP at 5 hashes up to ~6.5k distinct
    * keys per file; undersizing only raises FP rate, never correctness.
    */
  private val BloomFileBits = 1L << 16
  private val BloomFileK = 5

  /** Build (or rebuild) the per-file Bloom sidecar for point lookups on
    * `c`. Probes hash their key at `c`'s type, read from the data schema
    * ([[graft.ops.Bloom.keyAs]]).
    */
  def writeBloomStats(spark: SparkSession, dir: String, c: String): Unit = {
    val positions = array((0 until BloomFileK).map(i =>
      pmod(xxhash64(col(c), lit(i)), lit(BloomFileBits))): _*)
    spark.read.parquet(dir)
      .select(col("_metadata.file_name").as("file"), explode(positions).as("pos"))
      .select(col("file"), shiftright(col("pos"), 6).cast("int").as("idx"),
        call_function("shiftleft", lit(1L),
          col("pos").bitwiseAND(lit(63L)).cast("int")).as("bit"))
      .groupBy(col("file"), col("idx")).agg(bit_or(col("bit")).as("word"))
      .groupBy(col("file"))
      .agg(map_from_entries(collect_list(struct(col("idx"), col("word"))))
        .as("words"))
      .withColumn("mbits", lit(BloomFileBits))
      .coalesce(1) // one row per data file — metadata-scale
      .write.mode(SaveMode.Overwrite).parquet(bloomPath(dir))
  }

  /** Files whose Bloom admits `c` = `key`, plus the total file count. */
  def pruneFilesByBloom(spark: SparkSession, dir: String, c: String,
      key: Column): (Seq[String], Long) =
    bloomKept(spark, dir, typedKey(spark.read.parquet(dir), c, key))

  /** `key` at the type of `data`'s column `c`. */
  private def typedKey(data: DataFrame, c: String, key: Column): Column =
    graft.ops.Bloom.keyAs(key, data.select(key).schema.head.dataType,
      data.select(col(c)).schema.head.dataType)

  private def bloomKept(spark: SparkSession, dir: String,
      key: Column): (Seq[String], Long) = {
    val blooms = readSidecar(spark, bloomPath(dir))
    val total = blooms.count()
    val test = (0 until BloomFileK).map { i =>
      val pos = pmod(xxhash64(key, lit(i)), col("mbits"))
      val word = coalesce(
        element_at(col("words"), shiftright(pos, 6).cast("int")), lit(0L))
      word.bitwiseAND(call_function("shiftleft", lit(1L),
        pos.bitwiseAND(lit(63L)).cast("int"))) =!= lit(0L)
    }.reduce(_ && _)
    val kept = blooms.filter(test)
      .select(col("file")).collect().map(r => resolveFile(dir, r.getString(0))).toSeq
    (kept, total)
  }

  /** Point read with Bloom file skipping: scan only files that might
    * contain `c` = key, then apply the exact predicate. Identical
    * result to a full scan + filter, I/O ∝ files that (probably)
    * contain the key. The kept files are read with the directory's
    * schema, so the schema is inferred once.
    */
  def readPoint(spark: SparkSession, dir: String, c: String,
      key: Column): DataFrame = {
    val data = spark.read.parquet(dir)
    val (kept, _) = bloomKept(spark, dir, typedKey(data, c, key))
    if (kept.isEmpty) data.filter(lit(false))
    else spark.read.schema(data.schema).parquet(kept: _*).filter(col(c) === key)
  }
}
