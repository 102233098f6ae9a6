package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Transactional fact-table commits over plain parquet — the ACID story
  * the reference gets from DuckDB's staging-table merge
  * (`cache/duckdb_store.py:417-461`), re-expressed as a versioned
  * directory layout with an atomic pointer flip (the core idea behind
  * Delta/Iceberg commit logs, reduced to the single-writer case):
  *
  * {{{
  *   table/
  *     _current            <- committed version number (the ONLY mutable file)
  *     _versions/v1/...    <- immutable parquet snapshots
  *     _versions/v2/...
  * }}}
  *
  * Invariants:
  *  - data directories are immutable once written (`ErrorIfExists`);
  *  - readers resolve `_current` first, so they only ever see a fully
  *    written snapshot — a merge that fails mid-job leaves the pointer
  *    (and therefore the table) untouched;
  *  - every publishing entry point runs ONE protocol, [[commit]]:
  *    lock, check the base against `_current` before any work, claim,
  *    re-check, manifest, then a same-filesystem `ATOMIC_MOVE` pointer
  *    flip (lost-update protection for racing writers);
  *  - version numbers are CLAIMED with a filesystem conditional put
  *    ([[claimVersion]]: build at a writer-unique staging path, one
  *    atomic rename into place) — so racing writers in DIFFERENT
  *    processes also get exactly one winner per version
  *    (TxStoreCrossProcessSpec races real JVMs to prove it).
  *
  * At 100 TB the snapshot write becomes a partition-overwrite (only
  * partitions containing touched PKs are rewritten) and the claim
  * rename maps onto the store's own conditional put (HDFS rename, S3
  * If-None-Match) — the protocol is unchanged.
  */
object TxStore {

  final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

  private def currentFile(root: String): Path = Paths.get(root, "_current")

  /** Per-root commit monitor — the IN-PROCESS arbitration: the
    * read-base → write-snapshot → verify → pointer-flip critical
    * section runs under the table's monitor, so two threads racing
    * commits on the same base version get exactly one winner (the
    * loser sees the moved pointer and conflicts cleanly, touching
    * nothing) without ever paying a snapshot write to lose. Commits to
    * a table are serialized; the snapshot WRITE inside is still fully
    * parallel across executors, so this costs nothing at scale — one
    * driver owns a table's commit protocol, which is also Delta's
    * stance. ACROSS processes the arbiter is [[claimVersion]]'s
    * conditional put (atomic rename of the staged version dir): a
    * racing JVM that loses the claim gets the same
    * [[ConcurrentCommitException]] read-retry contract
    * (TxStoreSpec "two racing writers" proves the in-process contract;
    * TxStoreCrossProcessSpec races real JVMs for the cross-process
    * one).
    */
  private val commitLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def withCommitLock[T](root: String)(body: => T): T =
    commitLocks.computeIfAbsent(
      Paths.get(root).toAbsolutePath.normalize.toString,
      _ => new Object).synchronized(body)

  def versionDir(root: String, v: Long): String =
    Paths.get(root, "_versions", s"v$v").toString

  private def logDir(root: String): Path = Paths.get(root, "_log")

  /** Append-only commit-log manifest (`_log/v<N>.json`, one line per
    * commit — the Delta-log idea reduced to the single-writer case):
    * what each version IS (action + parent + file count) without
    * listing its data directory. Deterministic content — no wall-clock
    * fields — so committed tables are byte-reproducible. Written
    * immediately before the pointer flip; [[history]] filters to
    * committed versions, so a manifest orphaned by a conflicted commit
    * is invisible (and [[vacuum]] removes it).
    */
  private def writeManifest(root: String, v: Long, action: String,
      parent: Option[Long]): Unit = {
    Files.createDirectories(logDir(root))
    val nFiles = {
      val s = Files.walk(Paths.get(versionDir(root, v)))
      try s.iterator().asScala.count(f =>
        Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    val json = s"""{"version":$v,"action":"$action","parent":${parent.getOrElse("null")},"num_files":$nFiles}"""
    Files.writeString(logDir(root).resolve(s"v$v.json"), json + "\n")
  }

  /** The commit history of the table — one row per committed version
    * (version, action, parent, num_files), read from the `_log`
    * manifests. Metadata-scale by construction: one small JSON file per
    * commit, never a data-directory listing.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val cur = committed(root)
    val schema = StructType(Seq(
      StructField("version", LongType), StructField("action", StringType),
      StructField("parent", LongType), StructField("num_files", LongType)))
    val manifests = {
      val l = Files.list(logDir(root))
      try l.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".json")).toSeq
      finally l.close()
    }
    spark.read.schema(schema).json(manifests: _*)
      .filter(col("version") <= cur)
      .orderBy(col("version"))
  }

  /** The committed version, or None for an uninitialized table. Strict:
    * the pointer is the table, so damage throws, naming the pointer.
    */
  def currentVersion(root: String): Option[Long] = {
    val f = currentFile(root)
    if (!Files.exists(f)) None
    else Some(Files.readString(f).trim.toLongOption.getOrElse(throw new IllegalStateException(
      s"damaged version pointer $f of the table at $root: not a version number")))
  }

  /** The committed version (throws for an uninitialized table). */
  private def committed(root: String): Long = currentVersion(root).getOrElse(
    throw new IllegalStateException(s"no committed version at $root"))

  private def conflict(root: String, base: Long) = new ConcurrentCommitException(
    s"table at $root moved past v$base; retry on the new snapshot")

  /** The one commit protocol behind every publishing entry point:
    *
    *  1. under [[withCommitLock]], resolve the base — `expected`, else
    *     the committed version; v0 is the empty table, so `Some(0L)`
    *     mints a first version — and require `_current` to equal it
    *     BEFORE any work: a stale base is a conflict, never a read of
    *     a directory retention may have expired;
    *  1. build base+1 through [[claimVersion]]: `stage(base, dir)`
    *     writes the version's content at a writer-unique staging path,
    *     then `batchId`, if given, is staged beside it as the
    *     `_batch_id` marker ([[lastBatchId]]);
    *  1. re-check `_current` (the cross-process guard: another JVM's
    *     flip is invisible to the in-process monitor);
    *  1. `beforeFlip(next)` — sidecars the version must carry;
    *  1. write the `_log` manifest, then flip the pointer.
    *
    * Anything that throws between the claim and the flip tears the
    * claim (and its manifest) down, so a failed commit leaves no
    * version, no manifest and no blocked version number behind.
    */
  private def commit(root: String, expected: Option[Long], action: String,
      beforeFlip: Long => Unit = _ => (), batchId: Option[Long] = None)(
      stage: (Long, String) => Unit): Long =
    withCommitLock(root) {
      val base = expected.getOrElse(committed(root))
      if (currentVersion(root).getOrElse(0L) != base) {
        require(base > 0, s"table already initialized at $root")
        throw conflict(root, base)
      }
      val next = base + 1
      Files.createDirectories(Paths.get(root, "_versions"))
      claimVersion(root, next) { dir =>
        stage(base, dir)
        // the streaming fence rides INSIDE the staged dir so it commits
        // atomically with the version; the underscore prefix hides it
        // from Spark/DuckDB readers and the file counter
        batchId.foreach(id => Files.writeString(Paths.get(dir, "_batch_id"), id.toString))
      }
      try {
        if (currentVersion(root).getOrElse(0L) != base) throw conflict(root, base)
        beforeFlip(next)
        writeManifest(root, next, action, Some(base).filter(_ > 0))
        flipPointer(root, next)
      } catch {
        case e: Throwable =>
          deleteRecursively(Paths.get(versionDir(root, next)))
          Files.deleteIfExists(logDir(root).resolve(s"v$next.json"))
          throw e
      }
      next
    }

  /** Write one immutable snapshot: `df` as a version's parquet files
    * (partitioned by `partitionBy`, if given) — the staging body of
    * every commit that writes fresh data. The files carry native blooms
    * for the table's declared columns ([[writeBloomStats]]), so a
    * version's skipping metadata is staged with its data and nothing is
    * written after the flip. On a mid-write failure only this writer's
    * staging is removed ([[claimVersion]]), so a retry of the same
    * version can proceed.
    */
  private def writeParquet(root: String, df: DataFrame, dir: String,
      partitionBy: Option[String] = None): Unit = {
    val w = df.write.options(Skipping.bloomOptions(bloomColumns(root)))
      .mode(SaveMode.ErrorIfExists)
    partitionBy.fold(w)(c => w.partitionBy(c)).parquet(dir)
  }

  /** Initialize the table at version 1. */
  def init(df: DataFrame, root: String): Long =
    commit(root, Some(0L), "init")((_, dir) => writeParquet(root, df, dir))

  // ---- deletion vectors (merge-on-read DELETE) ----
  //
  // A DELETE-commit normally rewrites every surviving row
  // ([[commitDelete]]) — cost ∝ table, the copy-on-write stance. The
  // merge-on-read alternative ([[commitDeleteVectors]]) hard-links the
  // parent's data files untouched and records the deleted positions as
  // a (file_name, row_index) sidecar under `_dv/` inside the version
  // directory (underscore-prefixed, so plain parquet listings never
  // see it as data): commit cost ∝ matched rows, the Delta
  // deletion-vector / Iceberg position-delete idea. Every snapshot
  // read anti-joins the sidecar (metadata-scale — AQE broadcasts it),
  // so ALL consumers — time travel, CDF, upserts, exports — see the
  // logical table; any full-rewrite commit (upsert, compaction,
  // zorder, [[commitPurgeDeletes]]) naturally materializes the
  // deletes away because it writes fresh files with no sidecar.
  // Sidecars are keyed by file NAME, not path, so hard-link
  // carry-forward (restore links the whole tree, `_dv/` included)
  // keeps them valid verbatim.

  private def dvPath(dir: String): Path = Paths.get(dir, "_dv")

  /** Read a version's deletion-vector sidecar by its explicit part
    * files: handing the underscore-prefixed directory itself to
    * `spark.read` logs an `All paths were ignored` WARN on every read.
    * Its schema is fixed, so no footer is read.
    */
  private def readDv(spark: SparkSession, dir: String): DataFrame = {
    val s = Files.list(dvPath(dir))
    try spark.read.schema(DvSchema).parquet(s.iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq: _*)
    finally s.close()
  }

  private val DvSchema = org.apache.spark.sql.types.StructType.fromDDL("file_name string, row_index long")

  /** The logical rows of version `v`: raw files minus the
    * deletion-vector positions, when a `_dv/` sidecar exists.
    */
  private def snapshot(spark: SparkSession, root: String, v: Long): DataFrame = {
    val dir = versionDir(root, v)
    applyDv(spark, dir, Skipping.readParquet(spark, dir))
  }

  /** Anti-join `df` (still a file-source frame over `dir`'s files, so
    * `_metadata` resolves — also true of [[Skipping]]'s pruned reads)
    * against `dir`'s deletion vector, if one exists.
    */
  private def applyDv(spark: SparkSession, dir: String, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (!Files.exists(dvPath(dir))) df
    else {
      val dv = readDv(spark, dir)
      df.withColumn("__dv_file", col("_metadata.file_name"))
        .withColumn("__dv_row", col("_metadata.row_index"))
        .join(dv, col("__dv_file") === dv("file_name") &&
          col("__dv_row") === dv("row_index"), "left_anti")
        .drop("__dv_file", "__dv_row")
    }
  }

  /** DELETE as a merge-on-read commit: the next version hard-links the
    * parent's files and adds the matching rows' positions to the
    * deletion-vector sidecar — no data rewrite, cost ∝ deleted rows.
    * Same all-or-nothing pointer flip and concurrency check as every
    * commit; deletes accumulate across successive DV commits until a
    * rewriting commit (or [[commitPurgeDeletes]]) folds them in.
    * Unpartitioned layouts only — a partitioned table's cheap delete
    * path is already partition-grain (drop/rewrite touched partitions).
    */
  def commitDeleteVectors(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      expectedVersion: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    commit(root, expectedVersion, "delete_dv") { (base, nextDir) =>
      val baseDir = versionDir(root, base)
      require(partitionDirs(baseDir).isEmpty,
        "deletion vectors require an unpartitioned layout " +
          "(partitioned tables delete at partition grain)")
      linkFiles(Paths.get(baseDir), Paths.get(nextDir))
      // new deletions, evaluated over the parent's LOGICAL rows (the
      // anti-join keeps already-deleted positions from re-matching);
      // NULL predicate keeps the row, SQL DELETE semantics. Metadata
      // columns are captured BEFORE any join so they resolve against
      // the file-source relation. DV sidecars are keyed by file NAME,
      // so computing them against the staging path stays valid after
      // the claim rename.
      val withMeta = Skipping.readParquet(spark, nextDir)
        .withColumn("__dv_file", col("_metadata.file_name"))
        .withColumn("__dv_row", col("_metadata.row_index"))
      val hadDv = Files.exists(dvPath(nextDir))
      val live =
        if (!hadDv) withMeta
        else {
          val dv = readDv(spark, nextDir)
          withMeta.join(dv, withMeta("__dv_file") === dv("file_name") &&
            withMeta("__dv_row") === dv("row_index"), "left_anti")
        }
      val doomed = live.filter(coalesce(predicate, lit(false)))
        .select(col("__dv_file").as("file_name"),
          col("__dv_row").as("row_index"))
      val merged =
        if (hadDv)
          readDv(spark, nextDir).union(doomed).distinct()
        else doomed
      // write-then-swap: the merged sidecar is fully written to a side
      // path before the one it was computed FROM is replaced (never
      // overwrite an input mid-plan); positions are metadata-scale by
      // design, so one file
      val tmp = Paths.get(nextDir, "_dv_tmp")
      merged.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      deleteRecursively(dvPath(nextDir))
      Files.move(tmp, dvPath(nextDir))
    }
  }

  /** Maintenance twin of [[commitDeleteVectors]]: materialize the
    * logical snapshot into fresh files with no sidecar — the compaction
    * that pays the rewrite once after many cheap deletes.
    */
  def commitPurgeDeletes(spark: SparkSession, root: String,
      expectedVersion: Option[Long] = None): Long =
    commit(root, expectedVersion, "purge_deletes")((base, dir) =>
      writeParquet(root, snapshot(spark, root, base), dir))

  /** The committed snapshot (throws for an uninitialized table). */
  def read(spark: SparkSession, root: String): DataFrame =
    snapshot(spark, root, committed(root))

  /** SHALLOW CLONE (Delta's CLONE TABLE): a NEW table whose v1 is the
    * source's committed snapshot, hard-linked file for file — zero data
    * copy, O(metadata) cost. The clone owns its own commit log and
    * pointer from that moment: upserts/deletes to either side never
    * touch the other (version-dir immutability + link semantics), which
    * is what makes this the dev/test-against-production-data and
    * table-branching primitive. Deletion-vector sidecars travel with
    * the linked tree, so a clone of a MOR table sees the same logical
    * rows. The clone records its provenance manifest-side.
    */
  def cloneTable(spark: SparkSession, srcRoot: String, dstRoot: String): Long = {
    val srcV = committed(srcRoot)
    // the hidden-partitioning layout and the declared blooms (if any)
    // are part of the table's identity
    val copyLayout: Long => Unit = _ =>
      Seq("_layout.json", SkippingFile).map(Paths.get(srcRoot, _)).filter(Files.exists(_))
        .foreach(f => Files.copy(f, Paths.get(dstRoot).resolve(f.getFileName),
          StandardCopyOption.REPLACE_EXISTING))
    // The source commit lock is NOT held (a clone must not block the
    // source's writers), so a concurrent expireVersions on the source
    // can delete v$srcV mid-link. A bare post-link `exists(srcDir)`
    // is NOT enough: deletion removes files before the directory, so
    // the dir can still be present while the tree we linked was
    // already partial. Completeness is therefore verified against
    // the source's own listing — list before, link exactly that
    // list, re-list after; any difference (or a vanished file midway)
    // means a deletion was in flight and the clone is torn down as a
    // clean retryable conflict instead of committing a partial v1.
    commit(dstRoot, Some(0L), s"clone:$srcRoot@v$srcV", copyLayout) { (_, dstV1) =>
      try linkTreeVerified(Paths.get(versionDir(srcRoot, srcV)), Paths.get(dstV1))
      catch {
        case _: java.nio.file.NoSuchFileException =>
          throw new ConcurrentCommitException(
            s"source version v$srcV at $srcRoot expired during clone; retry")
      }
    }
  }

  // ---- hidden partitioning (Iceberg-style transforms, see [[Layout]]) ----

  /** Initialize a table partitioned by a TRANSFORM of a source column
    * (`bucket(n)`, `days`, `identity`). The derived `__part` column is
    * store-managed: writers never compute it, readers never see it,
    * and [[readHiddenEq]]/[[readHiddenRange]] prune on it from
    * predicates over the SOURCE column.
    */
  def initHidden(df: DataFrame, root: String, t: Layout.Transform): Long = {
    import org.apache.spark.sql.functions.col
    requireTzFreeForDays(df, t)
    // the layout is part of v1: written before the flip, so a rejected
    // spec tears the claim down instead of leaving a layout-less table
    commit(root, Some(0L), "init", beforeFlip = _ => Layout.write(root, t)) { (_, dir) =>
      writeParquet(root, df.withColumn(Layout.PartCol, t(col(t.col))), dir,
        Some(Layout.PartCol))
    }
  }

  /** [[Layout.Days]]'s timezone contract (see its Scaladoc): the
    * rendered day of a session-tz-aware `timestamp` depends on
    * `spark.sql.session.timeZone`, so a table written under one tz and
    * probed under another would prune directories that contain matching
    * rows — wrong results with no error. Rejected at write time; the
    * caller converts to `timestamp_ntz`/`date` explicitly, making the
    * day boundary a recorded choice instead of an ambient config.
    */
  private def requireTzFreeForDays(df: DataFrame, t: Layout.Transform): Unit =
    t match {
      case Layout.Days(c) =>
        val dt = df.schema(c).dataType
        require(dt == org.apache.spark.sql.types.DateType ||
          dt == org.apache.spark.sql.types.TimestampNTZType ||
          dt == org.apache.spark.sql.types.StringType,
          s"days($c) requires a tz-free column (date/timestamp_ntz/string); " +
            s"got ${dt.simpleString} whose rendered day depends on the session " +
            "timezone — cast to timestamp_ntz under an explicit tz first")
      case _ => ()
    }

  /** MERGE into a hidden-partitioned table: the committed transform
    * derives the updates' partitions, then the incremental partitioned
    * commit rewrites only touched partitions ([[commitUpsertPartitioned]]
    * verbatim — hidden partitioning is a derivation layer, not a new
    * commit protocol).
    */
  def commitUpsertHidden(spark: SparkSession, root: String,
      updates: DataFrame, pk: Seq[String],
      expectedVersion: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions.col
    val t = Layout.read(root)
    requireTzFreeForDays(updates, t)
    commitUpsertPartitioned(spark, root,
      updates.withColumn(Layout.PartCol, t(col(t.col))),
      pk, Layout.PartCol, expectedVersion)
  }

  /** The logical table: committed snapshot minus the derived column. */
  def readHidden(spark: SparkSession, root: String): DataFrame =
    read(spark, root).drop(Layout.PartCol)

  /** Point read on the transform's SOURCE column: the store adds
    * `__part = transform(key)` — a foldable predicate Catalyst turns
    * into a directory-pruning partition filter — plus the exact
    * predicate. The caller never names the partition scheme. `key`
    * must be a literal of the column's exact type (hash transforms are
    * type-sensitive).
    */
  def readHiddenEq(spark: SparkSession, root: String,
      key: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions.col
    val t = Layout.read(root)
    read(spark, root)
      .filter(col(Layout.PartCol) === t(key) && col(t.col) === key)
      .drop(Layout.PartCol)
  }

  /** Range read on a `days`/`identity` transform's source column —
    * the derived values are order-preserving for these transforms, so
    * BETWEEN on `__part` prunes to the value range's directories.
    * (Hash buckets are order-destroying by design: range reads on a
    * bucket transform scan all buckets, which is why time columns get
    * `days` and key columns get `bucket`.)
    */
  def readHiddenRange(spark: SparkSession, root: String,
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions.col
    val t = Layout.read(root)
    require(!t.isInstanceOf[Layout.Bucket],
      "range reads on a bucket transform cannot prune; use days/identity")
    read(spark, root)
      .filter(col(Layout.PartCol).between(t(lo), t(hi)) &&
        col(t.col).between(lo, hi))
      .drop(Layout.PartCol)
  }

  /** Time travel: read a specific committed version (1-based). Only
    * versions at or below `_current` are readable — directories above
    * it are uncommitted orphans by definition.
    */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame = {
    val cur = committed(root)
    require(v >= 1 && v <= cur, s"version v$v not committed (current: v$cur)")
    require(Files.exists(Paths.get(versionDir(root, v))),
      s"version v$v expired by retention (oldest retained version differs)")
    snapshot(spark, root, v)
  }

  /** MERGE-commit: upsert `updates` into the committed snapshot and
    * flip the pointer — all-or-nothing. Any failure while computing or
    * writing the new snapshot (or a concurrent commit in between)
    * leaves the committed version readable and unchanged.
    *
    * @param expectedVersion optimistic-concurrency guard; defaults to
    *   the version read at call time.
    */
  def commitUpsert(spark: SparkSession, root: String, updates: DataFrame,
      pk: Seq[String], expectedVersion: Option[Long] = None): Long =
    commit(root, expectedVersion, "upsert")((base, dir) =>
      writeParquet(root, Store.upsert(snapshot(spark, root, base), updates, pk), dir))

  /** Schema-EVOLVING MERGE-commit: [[commitUpsert]] where `updates`
    * may carry columns the committed snapshot lacks (backfilled null
    * on surviving base rows) and may omit base columns (null on
    * inserted rows) — [[Store.upsertEvolve]] under the same
    * all-or-nothing pointer flip. Because every version directory is a
    * self-contained snapshot, evolution is PER-VERSION: time travel to
    * a pre-evolution version returns that version's schema, exactly —
    * no global schema registry to migrate, no reader-side merge. Type
    * CHANGES on shared columns stay an analysis error (silent widening
    * hides corruption).
    */
  def commitUpsertEvolve(spark: SparkSession, root: String, updates: DataFrame,
      pk: Seq[String], expectedVersion: Option[Long] = None): Long =
    commit(root, expectedVersion, "upsert_evolve")((base, dir) =>
      writeParquet(root, Store.upsertEvolve(snapshot(spark, root, base), updates, pk), dir))

  /** Initialize a PARTITIONED table at version 1 (directory layout
    * `v1/<partCol>=<value>/part-*.parquet`).
    */
  def initPartitioned(df: DataFrame, root: String, partCol: String): Long =
    commit(root, Some(0L), "init")((_, dir) => writeParquet(root, df, dir, Some(partCol)))

  /** Incremental MERGE-commit on a partitioned table — the 100 TB shape
    * of [[commitUpsert]]: only partitions containing updated keys are
    * re-merged and rewritten; every untouched partition directory is
    * HARD-LINKED from the previous version (content copy only where the
    * filesystem refuses links). Commit cost is therefore proportional
    * to the touched data, not the table — with the identical
    * all-or-nothing pointer-flip guarantee.
    *
    * The touched-partition list is collected to the driver — bounded by
    * the partition count of the UPDATE set, metadata-scale by design.
    */
  def commitUpsertPartitioned(spark: SparkSession, root: String,
      updates: DataFrame, pk: Seq[String], partCol: String,
      expectedVersion: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions.col
    commit(root, expectedVersion, "upsert-partitioned") { (base, nextDir) =>
      val baseDir = versionDir(root, base)
      val touched = updates.select(col(partCol)).distinct().collect()
        .map(_.get(0)).toSet
      val touchedBase = snapshot(spark, root, base)
        .filter(col(partCol).isInCollection(touched))
      writeParquet(root, Store.upsert(touchedBase, updates, pk), nextDir, Some(partCol))
      // carry untouched partitions forward as hard links
      val writtenParts = partitionDirs(nextDir)
      partitionDirs(baseDir).filterNot(writtenParts.contains).foreach { p =>
        linkFiles(Paths.get(baseDir, p), Paths.get(nextDir, p))
      }
    }
  }

  /** `<partCol>=<value>` child directory names of a version dir. */
  private def partitionDirs(dir: String): Set[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return Set.empty
    val s = Files.list(p)
    try s.iterator().asScala
      .filter(c => Files.isDirectory(c) && c.getFileName.toString.contains("="))
      .map(_.getFileName.toString).toSet
    finally s.close()
  }

  /** Recreate under `to` hard links to every file under `from` whose
    * relative path passes `keep` (copy where the filesystem refuses
    * cross-links; a file already at the target is kept). Immutability
    * of version dirs is what makes sharing safe. Returns the relative
    * paths linked.
    */
  private def linkFiles(from: Path, to: Path,
      keep: Path => Boolean = _ => true): Set[Path] = {
    Files.createDirectories(to)
    val rels = listFilesRel(from).filter(keep)
    rels.toSeq.sorted.foreach { rel =>
      val (f, t) = (from.resolve(rel), to.resolve(rel))
      Files.createDirectories(t.getParent)
      if (!Files.exists(t))
        try Files.createLink(t, f)
        catch { case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(f, t) }
    }
    rels
  }

  /** Relative paths of every regular file under `from`. */
  private def listFilesRel(from: Path): Set[Path] = {
    val s = Files.walk(from)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(from.relativize).toSet
    finally s.close()
  }

  /** [[linkFiles]] with a completeness proof, for linking a tree whose
    * owner's lock is NOT held (cross-table clone): list the source,
    * link exactly that list, re-list and require set equality. A
    * concurrent delete of the source is detected whichever way the
    * race falls — a file vanishing mid-link surfaces as
    * NoSuchFileException; a deletion that started before the first
    * listing (deletes files, then dirs) leaves the after-listing
    * smaller. Sound because version dirs are immutable: no writer ever
    * adds or replaces files at an existing version, so listing
    * inequality can only mean deletion in flight.
    */
  private def linkTreeVerified(from: Path, to: Path): Unit = {
    val before = linkFiles(from, to)
    val after =
      try listFilesRel(from)
      catch { case _: java.nio.file.NoSuchFileException => Set.empty[Path] }
    if (after != before)
      throw new ConcurrentCommitException(
        s"source tree $from changed during link " +
          s"(${before.size} files listed, ${after.size} after; " +
          "concurrent retention delete): retry")
  }

  /** RESTORE as a commit (Delta's RESTORE TABLE ... TO VERSION): the
    * next version's content IS a retained older version's, hard-linked
    * file for file — no data movement, the rollback of a bad load is
    * O(metadata). History is append-only: the bad versions stay
    * readable (audit), the restore is itself a time-travelable commit,
    * and retention eventually expires the bad lineage. Fails cleanly if
    * the target version has been expired.
    */
  def commitRestore(spark: SparkSession, root: String, toVersion: Long,
      expectedVersion: Option[Long] = None): Long =
    commit(root, expectedVersion, "restore") { (base, nextDir) =>
      require(toVersion >= 1 && toVersion <= base,
        s"version v$toVersion not committed (current: v$base)")
      val fromDir = Paths.get(versionDir(root, toVersion))
      require(Files.exists(fromDir),
        s"version v$toVersion expired by retention; cannot restore")
      linkFiles(fromDir, Paths.get(nextDir))
    }

  /** Compaction commit: rewrite the committed snapshot into `numFiles`
    * files as a NEW version — data-identical, pure file-layout change,
    * same all-or-nothing pointer flip, and every prior version stays
    * readable (time travel is unaffected). The small-files problem is
    * the dominant operational cost of incremental ingestion at scale;
    * compaction being just another commit is what makes it safe to run
    * concurrently with readers.
    */
  def commitCompaction(spark: SparkSession, root: String, numFiles: Int,
      expectedVersion: Option[Long] = None): Long =
    commit(root, expectedVersion, "compaction")((base, dir) =>
      writeParquet(root, snapshot(spark, root, base).coalesce(numFiles), dir))

  /** DELETE-commit: the committed snapshot minus rows matching
    * `predicate`, as the next version — same all-or-nothing pointer
    * flip as every other commit. Nothing is erased: the deleted rows
    * remain readable in every prior version until retention expires
    * them (the GDPR caveat a real estate handles with targeted
    * version rewrites).
    */
  def commitDelete(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      expectedVersion: Option[Long] = None): Long =
    commit(root, expectedVersion, "delete") { (base, dir) =>
      // SQL DELETE semantics: only rows where the predicate is TRUE go;
      // a NULL predicate keeps the row (bare !predicate would drop it)
      writeParquet(root, snapshot(spark, root, base)
        .filter(!org.apache.spark.sql.functions.coalesce(predicate,
          org.apache.spark.sql.functions.lit(false))), dir)
    }

  /** Contract-gated MERGE: evaluate row-level contract predicates over
    * the WOULD-BE snapshot and commit only if every row passes — a
    * violation aborts BEFORE the pointer flip, so the committed table
    * is never observable in a contract-violating state (constraint
    * enforcement as part of the transaction, the Delta CHECK-constraint
    * stance; reference runs the same checks post-hoc via
    * `validate/contracts.py`). The gate is one aggregate over the
    * merged frame — no second pass after the write. Throws
    * [[ContractViolationException]] with per-check violation counts;
    * the failed snapshot directory is removed.
    */
  final class ContractViolationException(val counts: Map[String, Long])
    extends RuntimeException(
      s"contract violations: ${counts.map { case (k, v) => s"$k=$v" }.mkString(", ")}")

  def commitUpsertChecked(spark: SparkSession, root: String, updates: DataFrame,
      pk: Seq[String], checks: Map[String, org.apache.spark.sql.Column],
      expectedVersion: Option[Long] = None): Long = {
    require(checks.nonEmpty, "commitUpsertChecked needs at least one check")
    commit(root, expectedVersion, "upsert") { (base, dir) =>
      // the gate aggregate materializes the merge; cache it so the
      // snapshot write reuses it instead of recomputing the full
      // base-scan + merge shuffle a second time
      val merged = Store.upsert(snapshot(spark, root, base), updates, pk).cache()
      try {
        val cs = checks.toSeq
        val row = merged.agg(
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.when(!cs.head._2, 1L).otherwise(0L)),
          cs.tail.map { case (_, p) =>
            org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.when(!p, 1L).otherwise(0L))
          }: _*).head()
        val counts = cs.indices.map(i => cs(i)._1 -> row.getLong(i)).toMap
        val bad = counts.filter(_._2 > 0)
        if (bad.nonEmpty) throw new ContractViolationException(bad)
        writeParquet(root, merged, dir)
      } finally merged.unpersist()
    }
  }

  /** CDC between two committed versions: the endpoint diff keyed on
    * the PK (what Delta's change-data-feed materializes per commit,
    * recovered here from the immutable snapshots themselves — valid
    * across ANY version span, including through compaction/repartition
    * commits, which are data-identical and therefore contribute no
    * change rows). One full-outer shuffle on the PK; payload columns
    * compare null-safely as a single struct. Emits the POST-image for
    * inserts/updates and the pre-image for deletes, tagged
    * `change_type ∈ {insert, update, delete}`.
    */
  def changesBetween(spark: SparkSession, root: String,
      fromV: Long, toV: Long, pk: Seq[String]): DataFrame = {
    require(fromV < toV, s"need fromV < toV (got v$fromV..v$toV)")
    val a = readVersion(spark, root, fromV)
    val b = readVersion(spark, root, toV)
    Store.snapshotDiff(a, b, pk)
  }

  /** OPTIMIZE ZORDER as a commit: rewrite the committed snapshot
    * z-order-clustered on two columns (Morton-code range partitioning
    * + in-file sort, [[Skipping.zOrdered]]), so the new files' footer
    * min/max is narrow in both — data-identical, pure layout change,
    * same all-or-nothing pointer flip. Prior versions keep their own
    * layout; readers mid-scan of the old version are untouched. This is
    * the recurring maintenance command of a 100 TB fact table:
    * re-cluster after a week of appends so range predicates on EITHER
    * column go back to pruning most files.
    */
  def commitZorder(spark: SparkSession, root: String, colA: String,
      colB: String, numFiles: Int, expectedVersion: Option[Long] = None): Long =
    commit(root, expectedVersion, "zorder")((base, dir) =>
      writeParquet(root, Skipping.zOrdered(snapshot(spark, root, base), colA, colB, numFiles), dir))

  /** Partition-evolution commit: rewrite the committed snapshot
    * PARTITIONED BY a (new) column as the next version — data-identical,
    * pure layout change, same all-or-nothing pointer flip. Because
    * versions are independent immutable directories, changing the
    * partitioning scheme is just another commit: older versions keep
    * their old layout and stay time-travelable, and subsequent
    * [[commitUpsertPartitioned]] calls run against the new scheme. The
    * Iceberg partition-evolution idea, reduced to the single-writer
    * case.
    */
  def commitRepartition(spark: SparkSession, root: String, partCol: String,
      expectedVersion: Option[Long] = None): Long =
    commit(root, expectedVersion, "repartition")((base, dir) =>
      writeParquet(root, snapshot(spark, root, base), dir, Some(partCol)))

  /** REPLACE-commit: the next version's content is `df` wholesale —
    * nothing carried from the parent. This is the commit a rebuild
    * publishes: a retrained ANN index, a re-derived projection, a
    * backfill — the swap is atomic (readers see old or new, never a
    * mix), the old content stays time-travelable until retention
    * expires it, and the history records `replace` so lineage shows
    * WHERE wholesale rebuilds happened. With `partitionBy`, the new
    * snapshot is laid out partitioned (the IVF-index shape:
    * `cell=N/` directories probes prune on). With `batchId`, the
    * version carries that streaming batch's `_batch_id` marker
    * ([[lastBatchId]]), as [[commitBatchAppend]]'s versions do.
    */
  def commitReplace(spark: SparkSession, root: String, df: DataFrame,
      partitionBy: Option[String] = None,
      expectedVersion: Option[Long] = None,
      beforeFlip: Long => Unit = _ => (),
      batchId: Option[Long] = None): Long =
    // sidecars the candidate version must carry (e.g. the IVF quantizer
    // geometry) are written BEFORE the pointer flip: a committed version
    // always has its own sidecars on disk, while a sidecar orphaned by a
    // crash in this window describes an uncommitted version and is inert
    commit(root, expectedVersion, "replace", beforeFlip, batchId)((_, dir) =>
      writeParquet(root, df, dir, partitionBy))

  /** Check that `cols` exist in a committed version. Nothing is
    * written: every parquet footer already carries per-row-group min/max,
    * which [[readRange]] prunes on.
    */
  def writeStats(spark: SparkSession, root: String, cols: Seq[String],
      version: Option[Long] = None): Unit = {
    val dir = versionDir(root, version.getOrElse(committed(root)))
    val missing = cols.filterNot(Skipping.readParquet(spark, dir).columns.contains)
    require(missing.isEmpty, s"no column ${missing.mkString(", ")} at $root")
  }

  /** Range read over the committed snapshot, skipping the files whose
    * footer min/max misses [lo, hi] ([[Skipping.readRange]]).
    */
  def readRange(spark: SparkSession, root: String, c: String,
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column): DataFrame = {
    val v = committed(root)
    applyDv(spark, versionDir(root, v),
      Skipping.readRange(spark, versionDir(root, v), c, lo, hi))
  }

  /** Declare a native parquet bloom on `c` in the table's
    * `_skipping.json`: every later commit writes it into its own files
    * ([[writeParquet]]). Versions written before the declaration have
    * no bloom, so [[readPoint]] prunes them by min/max only. May be
    * called before [[init]], so v1 carries blooms too; `c` must exist in
    * the committed version when there is one.
    */
  def writeBloomStats(spark: SparkSession, root: String, c: String): Unit = withCommitLock(root) {
    if (currentVersion(root).isDefined) writeStats(spark, root, Seq(c))
    val cols = bloomColumns(root)
    if (!cols.contains(c)) {
      Layout.requireSafeCol(c)
      Files.createDirectories(Paths.get(root))
      writeAtomic(Paths.get(root, SkippingFile),
        (cols :+ c).map(x => s""""$x"""").mkString("""{"bloom":[""", ",", "]}\n"))
    }
  }

  private val SkippingFile = "_skipping.json"

  /** The bloom columns `_skipping.json` declares. A missing, damaged or
    * unparseable spec declares none: it steers pruning, never results.
    * Names are checked by the rule [[writeBloomStats]] writes them with.
    */
  private def bloomColumns(root: String): Seq[String] = {
    val f = Paths.get(root, SkippingFile)
    val spec = """\{"bloom":\[(.*)\]\}""".r
    val name = "\"(.*)\"".r
    if (!Files.exists(f)) Nil
    else scala.util.Try(Files.readString(f).trim match {
      case spec("") => Nil
      case spec(list) => list.split(',').toSeq.map { case name(c) if Layout.safeCol(c) => c }
    }).getOrElse(Nil)
  }

  /** Point read over the committed snapshot, skipping the files whose
    * footer min/max or native bloom rules `key` out
    * ([[Skipping.readPoint]]).
    */
  def readPoint(spark: SparkSession, root: String, c: String,
      key: org.apache.spark.sql.Column): DataFrame = {
    val v = committed(root)
    applyDv(spark, versionDir(root, v),
      Skipping.readPoint(spark, versionDir(root, v), c, key))
  }

  /** Highest streaming batch id already folded into the table: the
    * max of the `_last_batch` fence file and the CURRENT version's
    * staged `_batch_id` marker. The marker is what makes append
    * commits exactly-once across a crash: it is created inside the
    * staged version directory, so it becomes visible atomically WITH
    * the version's pointer flip — a writer that dies between the flip
    * and the fence-file write leaves a committed version whose marker
    * still fences the replay. (MERGE commits don't need the marker —
    * re-upserting identical rows is value-idempotent — but appends and
    * sketch merges are not, so [[commitBatchAppend]] and the streaming
    * sketch sinks' [[commitReplace]] stage one on every commit.)
    */
  def lastBatchId(root: String): Option[Long] =
    (readFence(root) ++ stagedBatchId(root)).reduceOption(_ max _)

  /** The current version's staged `_batch_id` marker, if it has one.
    * Strict, unlike [[readFence]]: the marker may be the only record of
    * an appended batch, so reading damage as absent would let a replay
    * double-append. Damage throws, naming the marker.
    */
  private def stagedBatchId(root: String): Option[Long] =
    currentVersion(root).flatMap { v =>
      val m = Paths.get(versionDir(root, v), "_batch_id")
      if (!Files.exists(m)) None
      else Some(Files.readString(m).trim.toLongOption.getOrElse(throw new IllegalStateException(
        s"damaged batch-id marker $m of committed version v$v: not a batch id")))
    }

  /** Idempotent per-microbatch MERGE — the streaming sink contract
    * (see [[graft.streaming.Streaming.upsertSink]]): Structured
    * Streaming replays a microbatch after restart with the SAME batch
    * id, so a batch at or below the recorded high-water mark is a
    * no-op, and the replayed commit is dropped instead of double-
    * applied. The id is recorded after the pointer flip; a crash in
    * between replays the batch, and re-upserting identical rows is
    * value-idempotent — both failure windows converge to the same
    * table. First batch initializes the table.
    *
    * @return true if the batch was applied, false for a replay skip.
    */
  def commitBatch(spark: SparkSession, root: String, batch: DataFrame,
      pk: Seq[String], batchId: Long): Boolean = withCommitLock(root) {
    if (lastBatchId(root).exists(batchId <= _)) false
    else {
      if (currentVersion(root).isEmpty) init(batch, root)
      else commitUpsert(spark, root, batch, pk)
      writeFence(root, batchId)
      true
    }
  }

  /** APPEND-commit: the next version is `rows` written as fresh parquet
    * part files plus the ENTIRE previous version hard-linked alongside —
    * O(batch) data work and O(#files) link metadata, never a base read
    * or rewrite. [[commitUpsert]] rebuilds the full snapshot per call
    * (inherent to MERGE over an unpartitioned snapshot table), which
    * makes a long-running insert-only stream pay O(corpus) per batch;
    * this is the Delta/Iceberg append path for that stream. INSERT-ONLY
    * BY CONTRACT: the caller must guarantee the appended keys are
    * absent from the table (curation/decontamination sinks prove
    * novelty before admission) — violating it yields duplicate keys,
    * exactly as appending to any table format would. File-count growth
    * is one part-file set per append; long streams compact with
    * [[commitCompaction]], which folds the accumulated links back into
    * few files as an ordinary commit. Same staging-claim + pointer-flip
    * machinery — and the same all-or-nothing guarantee — as every other
    * commit.
    */
  def commitAppend(spark: SparkSession, root: String, rows: DataFrame,
      expectedVersion: Option[Long] = None,
      batchId: Option[Long] = None): Long =
    commit(root, expectedVersion, "append", batchId = batchId) { (base, nextDir) =>
      val baseDir = Paths.get(versionDir(root, base))
      // align column order to the committed schema so every part file in
      // the mixed version dir carries one physical layout
      val baseSchema = Skipping.readParquet(spark, baseDir.toString).schema
      require(rows.columns.toSet == baseSchema.fieldNames.toSet,
        s"append schema ${rows.columns.toSeq.sorted} != " +
          s"table ${baseSchema.fieldNames.toSeq.sorted} (use commitUpsertEvolve)")
      // name-set equality is not enough: a batch with matching names but
      // drifted types would pass and write MIXED physical schemas into one
      // version dir, failing only at some later read with no pointer back
      // to the offending append — so types fail loudly here instead
      // nullability (top-level and nested: array containsNull, map
      // valueContainsNull, struct field nullable) is NOT drift — parquet
      // stores it per-file as definition levels, so a non-null batch
      // appends safely into a nullable table; only a genuine type change
      // can corrupt the mixed version dir
      val baseTypes = baseSchema.fields
        .map(f => f.name -> ignoreNullability(f.dataType)).toMap
      val drifted = rows.schema.fields.collect {
        case f if baseTypes(f.name) != ignoreNullability(f.dataType) =>
          s"${f.name}: batch ${f.dataType.simpleString} != " +
            s"table ${baseTypes(f.name).simpleString}"
      }
      require(drifted.isEmpty,
        s"append column types drifted from the committed schema " +
          s"(cast the batch or use commitUpsertEvolve): ${drifted.mkString("; ")}")
      writeParquet(root, rows.select(baseSchema.fieldNames.toSeq.map(
        org.apache.spark.sql.functions.col): _*), nextDir)
      // carry the base forward: part-file names are job-UUID-unique, so
      // only writer-job artifacts (_SUCCESS and its crc) collide — the
      // new job already wrote those, keep its own. The base's own
      // _batch_id marker must NOT travel (it fences a different batch).
      // `_dv` DOES travel: deletion vectors are per-file-name facts that
      // stay true for the linked base files and match no appended file.
      linkFiles(baseDir, Paths.get(nextDir), _.getFileName.toString != "_batch_id")
    }

  /** [[commitBatch]]'s insert-only sibling: [[commitAppend]] under the
    * streaming batch-id high-water mark (replays dropped wholesale).
    * For foreachBatch sinks whose admissions are provably novel keys —
    * the O(batch)-per-microbatch commit a forever-running curation
    * stream needs. Unlike a replayed MERGE, a replayed APPEND is not
    * value-idempotent, so the fence must commit atomically with the
    * data: every version (including the first) stages a `_batch_id`
    * marker inside its own directory, and [[lastBatchId]] reads the
    * committed version's marker as well as the post-flip fence file —
    * a crash anywhere between the pointer flip and the fence write
    * still drops the replay instead of double-appending.
    */
  def commitBatchAppend(spark: SparkSession, root: String, batch: DataFrame,
      batchId: Long): Boolean = withCommitLock(root) {
    val fence = lastBatchId(root)
    if (fence.exists(batchId <= _)) {
      // replay fenced only by the current version's marker (fence file
      // lost in the crash gap): repair `_last_batch` now so the fence
      // outlives later commits that replace the marker-bearing version
      // (belt to [[preserveFence]]'s braces — durable at first contact)
      fence.foreach(id => writeFence(root, id))
      false
    } else {
      if (currentVersion(root).isEmpty)
        // inline init so the first batch's fence marker is staged
        // atomically with v1 (init() + a marker written after the flip
        // would reopen the crash gap for the very first batch)
        commit(root, Some(0L), "init", batchId = Some(batchId))((_, dir) =>
          writeParquet(root, batch, dir))
      else if (!batch.isEmpty)
        commitAppend(spark, root, batch, batchId = Some(batchId))
      writeFence(root, batchId)
      true
    }
  }

  /** Retention: expire committed versions older than the newest
    * `keepLast` (Delta's VACUUM RETAIN, single-writer case). Expired
    * version directories and their manifests are deleted — time travel
    * to them then fails the readVersion require() cleanly — while
    * `_current` and every retained version are untouched. Hard-linked
    * partition files shared with retained versions survive deletion by
    * link semantics (the inode lives until its last link goes).
    * Returns the expired version numbers.
    */
  def expireVersions(root: String, keepLast: Int): Seq[Long] = withCommitLock(root) {
    // under the commit lock: retention deletes old version dirs that a
    // concurrent commitRestore could be hard-linking FROM — the monitor
    // makes retention just another serialized table operation
    require(keepLast >= 1, "must retain at least the current version")
    currentVersion(root) match {
      case None => Seq.empty
      case Some(committed) =>
        val cutoff = committed - keepLast + 1 // oldest retained version
        val versionsDir = Paths.get(root, "_versions")
        if (!Files.exists(versionsDir)) Seq.empty
        else {
          val it = Files.list(versionsDir)
          try {
            val expired = Seq.newBuilder[Long]
            it.iterator().asScala.foreach { p =>
              val v = p.getFileName.toString.stripPrefix("v").toLongOption
              if (v.exists(x => x < cutoff)) {
                deleteRecursively(p)
                Files.deleteIfExists(logDir(root).resolve(s"v${v.get}.json"))
                expired += v.get
              }
            }
            expired.result().sorted
          } finally it.close()
        }
    }
  }

  /** Remove data directories above the committed version — orphans
    * from failed or conflicted commits — plus `.staging.` leftovers
    * from writers that died mid-build, and version claims orphaned by
    * a process that died between [[claimVersion]] and the pointer flip
    * (such a claim blocks its version number until vacuumed; a table
    * with no `_current` counts as v0, so an orphaned v1 claim goes
    * too). Safe
    * anytime in-process (committed snapshots are never touched);
    * across processes it is EXCLUSIVE maintenance — do not run while
    * another process is mid-commit, or its in-flight claim reads as an
    * orphan.
    */
  def vacuum(root: String): Seq[Long] = withCommitLock(root) {
    // under the commit lock: a dir above _current is only an orphan if
    // no in-flight commit owns it — serializing with commits makes
    // "above the pointer" unambiguous
    val committed = currentVersion(root).getOrElse(0L)
    val versionsDir = Paths.get(root, "_versions")
    if (!Files.exists(versionsDir)) Seq.empty
    else {
      val it = Files.list(versionsDir)
      try {
        val orphans = it.iterator()
        val removed = Seq.newBuilder[Long]
        orphans.forEachRemaining { p =>
          val name = p.getFileName.toString
          if (name.contains(".staging.")) {
            // staging left by a writer that died mid-build (a live
            // writer's staging is protected by vacuum's exclusive-
            // maintenance contract, same as the dirs above _current).
            // The dir is always deleted, but its version number is
            // only REPORTED as removed when that version is above
            // the pointer: a loser's (or crashed claimant's)
            // staging for an already-committed version is debris
            // next to a live snapshot, and listing it would tell
            // callers a committed version was removed.
            deleteRecursively(p)
            name.stripPrefix("v").takeWhile(_ != '.').toLongOption
              .filter(_ > committed).foreach(removed += _)
          } else if (name.startsWith("v")) {
            val v = name.drop(1).toLongOption
            if (v.exists(_ > committed)) { deleteRecursively(p); removed += v.get }
          }
        }
        // manifests orphaned by conflicted commits go with their data dirs
        if (Files.exists(logDir(root))) {
          val logs = Files.list(logDir(root))
          try logs.iterator().asScala.foreach { m =>
            val v = m.getFileName.toString.stripPrefix("v").stripSuffix(".json").toLongOption
            if (v.exists(_ > committed)) Files.deleteIfExists(m)
          } finally logs.close()
        }
        removed.result().sorted
      } finally it.close()
    }
  }

  /** CONDITIONAL PUT of a version directory — the cross-PROCESS commit
    * arbitration (the seam [[withCommitLock]]'s in-process monitor
    * documents). The version's content is built at a writer-unique
    * staging path (`_versions/v<N>.staging.<token>` — racing writers
    * can never interleave files into one directory), then claimed with
    * one atomic rename to `_versions/v<N>`: rename(2) onto an existing
    * non-empty directory fails, so of ANY number of racing processes
    * exactly one wins a given version number. The loser's staging is
    * torn down and the loss surfaces as [[ConcurrentCommitException]] —
    * the same read-retry contract as every in-process conflict. The
    * cheap exists() pre-check is an ergonomic fast-fail only; the
    * rename is the arbiter.
    *
    * Claim order forces pointer order: flipping `_current` to N happens
    * only in the commit that claimed v<N>, and claiming v<N+1> requires
    * reading `_current` = N first, so pointer history is linear with no
    * further conditional machinery. A writer that DIES between claim
    * and flip leaves an orphaned claim that blocks that version number;
    * [[vacuum]] (exclusive maintenance — never run concurrently with
    * cross-process writers) reclaims it, the same janitor stance as
    * object-store TTL cleanup. On a store with true conditional
    * put (S3 If-None-Match, HDFS rename) this method is the single
    * swap point.
    */
  private def claimVersion(root: String, v: Long)(build: String => Unit): Unit = {
    val finalDir = Paths.get(versionDir(root, v))
    if (Files.exists(finalDir))
      throw new ConcurrentCommitException(
        s"snapshot v$v already exists at $root (concurrent writer)")
    val staging = Paths.get(root, "_versions",
      s"v$v.staging.${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      build(staging.toString)
      try Files.move(staging, finalDir, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileSystemException =>
          if (Files.exists(finalDir))
            throw new ConcurrentCommitException(
              s"snapshot v$v at $root claimed by a concurrent process " +
                "(lost the rename); retry on the new snapshot")
          else throw e
      }
    } finally deleteRecursively(staging) // no-op after a winning rename
  }

  /** Recursively nulls out every nullability flag so [[commitAppend]]'s
    * drift check compares TYPES only (Spark's own
    * `DataType.equalsIgnoreNullability` is `private[sql]`).
    */
  private def ignoreNullability(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case ArrayType(e, _) => ArrayType(ignoreNullability(e), containsNull = true)
      case MapType(k, v, _) =>
        MapType(ignoreNullability(k), ignoreNullability(v), valueContainsNull = true)
      case StructType(fields) => StructType(fields.map(f =>
        f.copy(dataType = ignoreNullability(f.dataType), nullable = true)))
      case other => other
    }
  }

  /** Persist the streaming fence before the version it rides in is
    * superseded. A writer that crashed between a [[commitBatchAppend]]
    * pointer flip and its `_last_batch` write leaves the fence ONLY in
    * the current version's staged `_batch_id` marker — and the next
    * non-append commit (compaction, upsert, delete, restore) mints a
    * version WITHOUT a marker, which would erase the fence and let a
    * later replay double-append. Copying the marker down into
    * `_last_batch` right before every flip makes the fence survive any
    * maintenance commit: monotone (only ever raises the recorded id)
    * and always under the caller's commit lock.
    */
  private def preserveFence(root: String): Unit = {
    val fenced = readFence(root)
    stagedBatchId(root).filter(staged => fenced.forall(_ < staged))
      .foreach(staged => writeFence(root, staged))
  }

  /** Fence file I/O. Writes go through [[writeAtomic]] — preserveFence
    * runs on EVERY commit, so a torn `_last_batch` would block every
    * commit type (upsert, delete, compaction), not just appends; the
    * pointer's torn-write discipline applies here for the same reason.
    * Reads are TOLERANT: unparseable content (a truncated write from a
    * pre-atomic version, manual damage) is treated as absent rather
    * than thrown — the current version's staged `_batch_id` marker
    * still fences replays ([[lastBatchId]] takes the max of both), and
    * [[preserveFence]] re-materializes the file on the next commit.
    */
  private def readFence(root: String): Option[Long] =
    readMarker(Paths.get(root, "_last_batch"))

  /** A batch-id marker file's value; missing or unparseable is absent. */
  private[graft] def readMarker(f: Path): Option[Long] =
    if (!Files.exists(f)) None
    else scala.util.Try(Files.readString(f).trim.toLong).toOption

  private def writeFence(root: String, id: Long): Unit =
    writeAtomic(Paths.get(root, "_last_batch"), id.toString)

  /** Atomic pointer flip. Unconditional replace is sound because only
    * the process that won [[claimVersion]] for `next` ever flips to
    * `next`, and claims are totally ordered by the base-version chain.
    */
  private def flipPointer(root: String, next: Long): Unit = {
    preserveFence(root)
    writeAtomic(currentFile(root), next.toString)
  }

  /** Replace a small pointer, marker or sidecar file whole: write a
    * unique sibling, then one same-directory `ATOMIC_MOVE` onto
    * `target`, so a crash leaves the old content or the new, never a
    * torn file, and concurrent writers never share a tmp file.
    */
  private[graft] def writeAtomic(target: Path, content: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(
      s"${target.getFileName}.tmp.${java.util.UUID.randomUUID}")
    try {
      Files.write(tmp, content)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  private[graft] def writeAtomic(target: Path, content: String): Unit =
    writeAtomic(target, content.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
