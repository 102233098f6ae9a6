package graft

import org.apache.spark.sql.functions._
import graft.store.TxStore

/** ACID commit protocol over plain parquet: a failed merge must leave
  * the committed snapshot readable and unchanged (the guarantee the
  * reference inherits from DuckDB's transactional staging merge,
  * `cache/duckdb_store.py:417-461`).
  */
class TxStoreSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_txstore").resolve("t").toString

  private def rows(root: String): Set[(Long, String, Double)] =
    TxStore.read(spark, root).as[(Long, String, Double)].collect().toSet

  test("init + read round-trip at v1") {
    val root = freshRoot()
    val base = Seq((1L, "soja", 100.0), (2L, "milho", 50.0)).toDF("k", "produto", "v")
    assert(TxStore.init(base, root) == 1L)
    assert(TxStore.currentVersion(root).contains(1L))
    assert(rows(root) == Set((1L, "soja", 100.0), (2L, "milho", 50.0)))
  }

  test("successful commit: updates replace, inserts append, version bumps") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0), (2L, "milho", 50.0)).toDF("k", "produto", "v"), root)
    val updates = Seq((2L, "milho", 75.0), (3L, "trigo", 30.0)).toDF("k", "produto", "v")
    assert(TxStore.commitUpsert(spark, root, updates, Seq("k")) == 2L)
    assert(rows(root) == Set((1L, "soja", 100.0), (2L, "milho", 75.0), (3L, "trigo", 30.0)))
  }

  test("failed merge leaves the committed snapshot readable and unchanged") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0), (2L, "milho", 50.0)).toDF("k", "produto", "v"), root)
    val before = rows(root)
    // updates that explode mid-job, after some rows have been produced
    val poison = Seq((2L, "milho", 75.0), (3L, "trigo", -1.0)).toDF("k", "produto", "v")
      .withColumn("v", when(col("v") < 0, raise_error(lit("poison row"))).otherwise(col("v")))
    val e = intercept[Exception](TxStore.commitUpsert(spark, root, poison, Seq("k")))
    assert(e.getMessage != null)
    assert(TxStore.currentVersion(root).contains(1L), "pointer never flipped")
    assert(rows(root) == before, "committed data unchanged")
    assert(TxStore.vacuum(root).isEmpty, "failed write cleaned its own partial dir")
    // and the table still accepts a good commit afterwards
    assert(TxStore.commitUpsert(spark, root,
      Seq((3L, "trigo", 30.0)).toDF("k", "produto", "v"), Seq("k")) == 2L)
    assert(rows(root) == before + ((3L, "trigo", 30.0)))
  }

  test("compaction commit: identical data, fewer files, history intact") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    val base = (1L to 200L).map(i => (i, "p" + (i % 3), i * 1.5)).toDF("k", "produto", "v")
      .repartition(16) // simulate small-file fragmentation
    TxStore.init(base, root)
    def files(v: Long): Int = {
      val s = Files.list(Paths.get(TxStore.versionDir(root, v)))
      try s.iterator().asScala.count(_.toString.endsWith(".parquet")) finally s.close()
    }
    assert(files(1L) > 4)
    assert(TxStore.commitCompaction(spark, root, numFiles = 2) == 2L)
    assert(files(2L) <= 2)
    val v1 = TxStore.readVersion(spark, root, 1L).as[(Long, String, Double)].collect().toSet
    val v2 = TxStore.read(spark, root).as[(Long, String, Double)].collect().toSet
    assert(v1 == v2 && v2.size == 200)
  }

  test("schema-evolving upsert: new column backfilled null, omitted column null on inserts") {
    import graft.store.Store
    val base = Seq((1L, "soja", 100.0), (2L, "milho", 50.0)).toDF("k", "produto", "v")
    val updates = Seq((2L, "milho", 60.0, "conab"), (3L, "trigo", 30.0, "cepea"))
      .toDF("k", "produto", "v", "fonte")
    val out = Store.upsertEvolve(base, updates, Seq("k"))
      .select("k", "produto", "v", "fonte")
      .as[(Long, String, Double, Option[String])].collect().toSet
    assert(out == Set(
      (1L, "soja", 100.0, None),             // surviving base row: null backfill
      (2L, "milho", 60.0, Some("conab")),    // replaced
      (3L, "trigo", 30.0, Some("cepea"))))   // insert
    // reverse direction: updates omitting a base column
    val narrow = Seq((4L, 70.0)).toDF("k", "v")
    val out2 = Store.upsertEvolve(base, narrow, Seq("k"))
      .select("k", "produto", "v").as[(Long, Option[String], Double)].collect().toSet
    assert(out2.contains((4L, None, 70.0)) && out2.size == 3)
  }

  test("schema evolution as a COMMIT: current has the new column, time travel keeps the old schema") {
    val root = java.nio.file.Files.createTempDirectory("graft_txevo_s").resolve("t").toString
    val base = Seq((1L, 100.0), (2L, 50.0)).toDF("k", "v")
    TxStore.init(base, root)
    val updates = Seq((2L, 60.0, "conab"), (3L, 30.0, "cepea")).toDF("k", "v", "fonte")
    val v2 = TxStore.commitUpsertEvolve(spark, root, updates, Seq("k"))
    assert(v2 == 2L)
    val cur = TxStore.read(spark, root)
    assert(cur.columns.toSet == Set("k", "v", "fonte"))
    assert(cur.filter($"k" === 1L).select($"fonte").head().isNullAt(0))
    // the pre-evolution version keeps ITS schema — per-version, no registry
    assert(TxStore.readVersion(spark, root, 1L).columns.toSet == Set("k", "v"))
    // manifest records the evolving commit
    assert(TxStore.history(spark, root).filter($"action" === "upsert_evolve").count() == 1)
  }

  test("time travel reads any committed version; uncommitted versions are unreadable") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0)).toDF("k", "produto", "v"), root)
    TxStore.commitUpsert(spark, root,
      Seq((1L, "soja", 150.0)).toDF("k", "produto", "v"), Seq("k")) // -> v2
    assert(TxStore.readVersion(spark, root, 1L).as[(Long, String, Double)].collect().toSet
      == Set((1L, "soja", 100.0)))
    assert(TxStore.readVersion(spark, root, 2L).as[(Long, String, Double)].collect().toSet
      == Set((1L, "soja", 150.0)))
    intercept[IllegalArgumentException](TxStore.readVersion(spark, root, 3L))
  }

  test("partitioned commit rewrites only touched partitions; untouched ones are hard-linked") {
    import java.nio.file.{Files, Paths}
    val root = freshRoot()
    val base = Seq(
      (1L, "soja", 100.0), (2L, "soja", 110.0),
      (3L, "milho", 50.0), (4L, "milho", 55.0),
      (5L, "trigo", 30.0)).toDF("k", "produto", "v")
    TxStore.initPartitioned(base, root, "produto")
    // updates touch ONLY the soja partition (one update + one insert)
    val updates = Seq((2L, "soja", 120.0), (6L, "soja", 130.0)).toDF("k", "produto", "v")
    assert(TxStore.commitUpsertPartitioned(spark, root, updates, Seq("k"), "produto") == 2L)
    // result == the full-table upsert semantics
    val got = TxStore.read(spark, root)
      .select("k", "produto", "v").as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "soja", 100.0), (2L, "soja", 120.0), (3L, "milho", 50.0),
      (4L, "milho", 55.0), (5L, "trigo", 30.0), (6L, "soja", 130.0)))
    // untouched partitions share inodes with v1 (linked, not rewritten)
    def inodes(v: Long, part: String): Set[Any] = {
      val d = Paths.get(TxStore.versionDir(root, v), s"produto=$part")
      val s = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(Files.getAttribute(_, "unix:ino")).toSet
      } finally s.close()
    }
    assert(inodes(2L, "milho") == inodes(1L, "milho") && inodes(1L, "milho").nonEmpty)
    assert(inodes(2L, "trigo") == inodes(1L, "trigo"))
    assert(inodes(2L, "soja").intersect(inodes(1L, "soja")).isEmpty, "touched partition rewritten")
    // a failed partitioned merge leaves the committed snapshot unchanged
    val before = TxStore.read(spark, root)
      .select("k", "produto", "v").as[(Long, String, Double)].collect().toSet
    val poison = Seq((3L, "milho", -1.0)).toDF("k", "produto", "v")
      .withColumn("v", when(col("v") < 0, raise_error(lit("poison"))).otherwise(col("v")))
    intercept[Exception](TxStore.commitUpsertPartitioned(spark, root, poison, Seq("k"), "produto"))
    assert(TxStore.currentVersion(root).contains(2L))
    assert(TxStore.read(spark, root)
      .select("k", "produto", "v").as[(Long, String, Double)].collect().toSet == before)
    assert(TxStore.vacuum(root).isEmpty)
  }

  test("commit log: one manifest per committed version, conflicted commits leave none") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0), (2L, "milho", 50.0)).toDF("k", "produto", "v"), root)
    TxStore.commitUpsert(spark, root,
      Seq((2L, "milho", 75.0)).toDF("k", "produto", "v"), Seq("k"))      // -> v2
    TxStore.commitCompaction(spark, root, numFiles = 1)                  // -> v3
    val h = TxStore.history(spark, root)
      .select("version", "action", "parent")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(h == Seq((1L, "init", None), (2L, "upsert", Some(1L)),
      (3L, "compaction", Some(2L))))
    // every manifest's file count matches its data directory
    val counts = TxStore.history(spark, root)
      .select("version", "num_files").as[(Long, Long)].collect().toMap
    counts.foreach { case (v, n) =>
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(TxStore.versionDir(root, v)))
      val actual = try s.iterator().asScala.count(_.toString.endsWith(".parquet")) finally s.close()
      assert(actual == n, s"v$v manifest says $n files, dir has $actual")
    }
    // a conflicted (stale-base) commit must not leave a manifest behind
    intercept[TxStore.ConcurrentCommitException] {
      TxStore.commitUpsert(spark, root,
        Seq((9L, "cafe", 9.0)).toDF("k", "produto", "v"), Seq("k"),
        expectedVersion = Some(1L))
    }
    TxStore.vacuum(root)
    assert(TxStore.history(spark, root).count() == 3)
    // partitioned tables log their own action label
    val proot = freshRoot()
    TxStore.initPartitioned(
      Seq((1L, "soja", 1.0), (2L, "milho", 2.0)).toDF("k", "produto", "v"), proot, "produto")
    TxStore.commitUpsertPartitioned(spark, proot,
      Seq((1L, "soja", 9.0)).toDF("k", "produto", "v"), Seq("k"), "produto")
    assert(TxStore.history(spark, proot).select("action").as[String].collect().toSeq
      == Seq("init", "upsert-partitioned"))
  }

  test("retention expires old versions; hard-linked data in retained versions survives") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0)).toDF("k", "produto", "v"), root)
    (2 to 4).foreach { i =>
      TxStore.commitUpsert(spark, root,
        Seq((i.toLong, "soja", i * 10.0)).toDF("k", "produto", "v"), Seq("k"))
    }
    assert(TxStore.expireVersions(root, keepLast = 2) == Seq(1L, 2L))
    // retained versions read fine; expired ones fail cleanly; current intact
    assert(TxStore.readVersion(spark, root, 3L).count() == 3)
    assert(TxStore.read(spark, root).count() == 4)
    intercept[IllegalArgumentException](TxStore.readVersion(spark, root, 1L))
    assert(TxStore.history(spark, root).select("version").as[Long].collect().toSeq
      == Seq(3L, 4L), "expired manifests pruned from history")
    assert(TxStore.expireVersions(root, keepLast = 2).isEmpty, "idempotent")

    // partitioned table: v2 hard-links v1's untouched partitions; after
    // expiring v1, the shared inodes must still be readable through v2
    val proot = freshRoot()
    TxStore.initPartitioned(Seq((1L, "soja", 1.0), (2L, "milho", 2.0))
      .toDF("k", "produto", "v"), proot, "produto")
    TxStore.commitUpsertPartitioned(spark, proot,
      Seq((1L, "soja", 9.0)).toDF("k", "produto", "v"), Seq("k"), "produto")
    assert(TxStore.expireVersions(proot, keepLast = 1) == Seq(1L))
    assert(TxStore.read(spark, proot)
      .select("k", "produto", "v").as[(Long, String, Double)].collect().toSet
      == Set((1L, "soja", 9.0), (2L, "milho", 2.0)))
  }

  test("partition evolution: re-layout is a commit; old versions keep their layout") {
    import java.nio.file.{Files, Paths}
    val root = freshRoot()
    val base = Seq((1L, "soja", 2020L, 1.0), (2L, "milho", 2020L, 2.0),
      (3L, "soja", 2021L, 3.0)).toDF("k", "produto", "ano", "v")
    TxStore.initPartitioned(base, root, "produto")
    assert(TxStore.commitRepartition(spark, root, "ano") == 2L)
    // layout changed, data identical, history says why
    def partDirs(v: Long) = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(Paths.get(TxStore.versionDir(root, v)))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.contains("=")).toSet finally s.close()
    }
    assert(partDirs(1L).forall(_.startsWith("produto=")))
    assert(partDirs(2L).forall(_.startsWith("ano=")) && partDirs(2L).size == 2)
    assert(TxStore.read(spark, root).select("k", "v")
      .as[(Long, Double)].collect().toSet == Set((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    assert(TxStore.history(spark, root).select("action").as[String].collect().toSeq
      == Seq("init", "repartition"))
    // incremental partitioned commits now run against the NEW scheme
    TxStore.commitUpsertPartitioned(spark, root,
      Seq((4L, "trigo", 2021L, 4.0)).toDF("k", "produto", "ano", "v"),
      Seq("k"), "ano")
    assert(TxStore.read(spark, root).count() == 4)
  }

  test("two racing writers on the same base: exactly one wins each round, readers never torn") {
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    TxStore.init(Seq((0L, "init", 0.0)).toDF("k", "produto", "v"), root)
    val stopReader = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // a reader hammering the table THROUGH the races: every read must
    // be a complete committed snapshot — version v holds exactly v rows
    // with distinct PKs, so any torn/partial/dup state is detectable
    val reader = new Thread(() => {
      while (!stopReader.get()) {
        try {
          val df = TxStore.read(spark, root)
          val n = df.count()
          val d = df.select("k").distinct().count()
          if (n != d) readerErrors.add(s"dup PKs: $n rows, $d keys")
        } catch { case e: Throwable => readerErrors.add(s"read failed: ${e.getMessage}") }
      }
    })
    reader.start()
    val rounds = 5
    for (r <- 1 to rounds) {
      val base = TxStore.currentVersion(root).get
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Long]]()
      val writers = Seq(1L, 2L).map { tag =>
        new Thread(() => {
          val upd = Seq((r * 10L + tag, s"w$tag-r$r", r.toDouble)).toDF("k", "produto", "v")
          barrier.await()
          try outcomes.add(Right(TxStore.commitUpsert(spark, root, upd, Seq("k"),
            expectedVersion = Some(base))))
          catch { case e: Throwable => outcomes.add(Left(e)) }
        })
      }
      writers.foreach(_.start()); writers.foreach(_.join())
      val rs = outcomes.asScala.toSeq
      assert(rs.count(_.isRight) == 1,
        s"round $r: expected exactly one winner, got $rs")
      assert(rs.collect { case Left(e) => e }
        .forall(_.isInstanceOf[TxStore.ConcurrentCommitException]),
        s"round $r: loser must conflict cleanly, got $rs")
      assert(TxStore.currentVersion(root).contains(base + 1))
      // exactly ONE of the two writes landed, on top of all prior rounds
      val ks = rows(root).map(_._1)
      assert(ks.size == r + 1)
      assert(ks.contains(r * 10L + 1) ^ ks.contains(r * 10L + 2),
        s"round $r: exactly one writer's row must be present")
      // the losing writer's orphan snapshot dir was cleaned up
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(TxStore.versionDir(root, base + 2))))
    }
    stopReader.set(true); reader.join()
    assert(readerErrors.isEmpty, s"reader saw torn state: ${readerErrors.asScala.toSeq}")
    // history is a clean linear chain of the winners
    val h = TxStore.history(spark, root).select("version", "parent")
      .as[(Long, Option[Long])].collect().toSeq
    assert(h == (1L to (rounds + 1L)).map(v => (v, if (v == 1) None else Some(v - 1))))
  }

  test("optimistic concurrency: a stale writer conflicts and changes nothing") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0)).toDF("k", "produto", "v"), root)
    TxStore.commitUpsert(spark, root,
      Seq((2L, "milho", 50.0)).toDF("k", "produto", "v"), Seq("k")) // -> v2
    val snapshot = rows(root)
    intercept[TxStore.ConcurrentCommitException] {
      TxStore.commitUpsert(spark, root,
        Seq((9L, "cafe", 9.0)).toDF("k", "produto", "v"), Seq("k"),
        expectedVersion = Some(1L)) // stale base: v2 already committed
    }
    assert(TxStore.currentVersion(root).contains(2L))
    assert(rows(root) == snapshot)
  }

  test("data skipping: narrow range scans a strict subset of files, identical result") {
    import graft.store.Skipping
    val root = freshRoot()
    // 1000 keys range-partitioned into 10 files -> ~100-key ranges per file
    val base = (1L to 1000L).map(k => (k, s"p$k", k * 1.5)).toDF("k", "produto", "v")
      .repartitionByRange(10, $"k")
    TxStore.init(base, root)
    TxStore.writeStats(spark, root, Seq("k"))
    val dir = TxStore.versionDir(root, 1L)
    val (kept, total) = Skipping.pruneFiles(spark, dir, "k", lit(450L), lit(520L))
    assert(total == 10)
    assert(kept.nonEmpty && kept.size <= 2, s"expected <=2 files kept, got ${kept.size}")
    val got = TxStore.readRange(spark, root, "k", lit(450L), lit(520L))
      .as[(Long, String, Double)].collect().toSet
    val want = base.filter($"k".between(450L, 520L))
      .as[(Long, String, Double)].collect().toSet
    assert(got == want)
    // out-of-range probe: zero files, empty result, schema intact
    val (kept0, _) = Skipping.pruneFiles(spark, dir, "k", lit(5000L), lit(6000L))
    assert(kept0.isEmpty)
    val empty = TxStore.readRange(spark, root, "k", lit(5000L), lit(6000L))
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("k", "produto", "v"))
  }

  test("stats sidecar is invisible to normal reads and survives per version") {
    val root = freshRoot()
    val base = (1L to 100L).map(k => (k, s"p$k", k * 1.0)).toDF("k", "produto", "v")
    TxStore.init(base, root)
    TxStore.writeStats(spark, root, Seq("k")) // a check: nothing is written
    intercept[IllegalArgumentException](TxStore.writeStats(spark, root, Seq("nope")))
    assert(TxStore.read(spark, root).count() == 100)
    assert(TxStore.read(spark, root).columns.toSeq == Seq("k", "produto", "v"))
    // each version's footers are its own: v1's range path stays intact after v2
    TxStore.commitUpsert(spark, root,
      Seq((101L, "x", 1.0)).toDF("k", "produto", "v"), Seq("k"))
    assert(TxStore.read(spark, root).count() == 101)
    val v1 = TxStore.versionDir(root, 1L)
    val (kept, total) = graft.store.Skipping.pruneFiles(spark, v1, "k", lit(1L), lit(5L))
    assert(total >= 1 && kept.nonEmpty)
  }

  test("delete commit: NULL predicate keeps the row (SQL DELETE semantics)") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", Some(100.0)), (2L, "milho", None),
      (3L, "trigo", Some(30.0))).toDF("k", "produto", "v"), root)
    // DELETE WHERE v > 50: row 2's predicate is NULL -> must survive
    TxStore.commitDelete(spark, root, col("v") > 50.0)
    assert(TxStore.read(spark, root).select("k").as[Long].collect().toSet
      == Set(2L, 3L))
  }

  test("delete commit removes matching rows; prior versions keep them") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0), (2L, "milho", 50.0), (3L, "trigo", 30.0))
      .toDF("k", "produto", "v"), root)
    assert(TxStore.commitDelete(spark, root, col("k") % 2 === 0) == 2L)
    assert(rows(root) == Set((1L, "soja", 100.0), (3L, "trigo", 30.0)))
    // nothing erased: v1 still carries the deleted row, manifest says 'delete'
    assert(TxStore.readVersion(spark, root, 1L).count() == 3)
    val hist = TxStore.history(spark, root)
      .select("version", "action").as[(Long, String)].collect().toMap
    assert(hist(2L) == "delete")
  }

  test("contract-gated commit: violation aborts before the flip, table unchanged") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0), (2L, "milho", 50.0)).toDF("k", "produto", "v"), root)
    val before = rows(root)
    val checks = Map(
      "v_non_negative" -> (col("v") >= 0.0),
      "produto_not_null" -> col("produto").isNotNull)
    // a poisoned batch: one negative value, one null produto
    val bad = Seq((2L, "milho", -75.0), (3L, null.asInstanceOf[String], 30.0))
      .toDF("k", "produto", "v")
    val e = intercept[TxStore.ContractViolationException] {
      TxStore.commitUpsertChecked(spark, root, bad, Seq("k"), checks)
    }
    assert(e.counts == Map("v_non_negative" -> 1L, "produto_not_null" -> 1L))
    assert(TxStore.currentVersion(root).contains(1L) && rows(root) == before)
    // the same table accepts a clean batch through the same gate
    val good = Seq((2L, "milho", 75.0), (3L, "trigo", 30.0)).toDF("k", "produto", "v")
    assert(TxStore.commitUpsertChecked(spark, root, good, Seq("k"), checks) == 2L)
    assert(rows(root) == Set((1L, "soja", 100.0), (2L, "milho", 75.0), (3L, "trigo", 30.0)))
  }

  test("CDC endpoint diff: insert/update/delete tagged, layout commits contribute nothing") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0), (2L, "milho", 50.0), (3L, "trigo", 30.0))
      .toDF("k", "produto", "v"), root)
    TxStore.commitUpsert(spark, root,
      Seq((2L, "milho", 75.0), (4L, "arroz", 20.0)).toDF("k", "produto", "v"), Seq("k"))
    TxStore.commitCompaction(spark, root, numFiles = 1) // v3: data-identical
    TxStore.commitDelete(spark, root, col("k") === 3L)  // v4
    val diff = TxStore.changesBetween(spark, root, 1L, 4L, Seq("k"))
      .as[(Long, String, Double, String)].collect().toSet
    assert(diff == Set(
      (2L, "milho", 75.0, "update"),
      (4L, "arroz", 20.0, "insert"),
      (3L, "trigo", 30.0, "delete")))
    // a span covering only the compaction is empty
    assert(TxStore.changesBetween(spark, root, 2L, 3L, Seq("k")).isEmpty)
  }

  test("zorder commit: identical data, both-column pruning, prior layout intact") {
    val root = freshRoot()
    // adversarial layout: ranged by k, so a range on g (uncorrelated
    // with k) prunes nothing until the z-order re-cluster
    val base = (1L to 2000L).map(k => (k, (k * 2654435761L) % 1000L, s"p${k % 7}"))
      .toDF("k", "g", "produto")
    TxStore.init(base.repartitionByRange(8, col("k")), root)
    assert(TxStore.commitZorder(spark, root, "k", "g", numFiles = 8) == 2L)
    // data identical, manifest records the layout action
    assert(TxStore.read(spark, root).as[(Long, Long, String)].collect().toSet
      == base.as[(Long, Long, String)].collect().toSet)
    val hist = TxStore.history(spark, root)
      .select("version", "action").as[(Long, String)].collect().toMap
    assert(hist(2L) == "zorder")
    // the new version's own footers prune on BOTH columns
    val v2 = TxStore.versionDir(root, 2L)
    val (keptK, totalK) = graft.store.Skipping.pruneFiles(spark, v2, "k", lit(1L), lit(100L))
    val (keptG, totalG) = graft.store.Skipping.pruneFiles(spark, v2, "g", lit(0L), lit(100L))
    assert(totalK == 8 && keptK.size < totalK, s"k pruning: ${keptK.size}/$totalK")
    assert(totalG == 8 && keptG.size < totalG, s"g pruning: ${keptG.size}/$totalG")
    // range read over the committed (z-ordered) snapshot stays correct
    val got = TxStore.readRange(spark, root, "g", lit(0L), lit(100L))
      .as[(Long, Long, String)].collect().toSet
    val want = base.filter($"g".between(0L, 100L)).as[(Long, Long, String)]
      .collect().toSet
    assert(got == want)
    // v1 keeps its k-ranged layout and full content
    assert(TxStore.readVersion(spark, root, 1L).count() == 2000)
  }

  test("incremental CDC consumption: per-commit high-water-mark sync reaches the snapshot") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0)).toDF("k", "produto", "v"), root)
    TxStore.commitUpsert(spark, root,
      Seq((2L, "milho", 50.0)).toDF("k", "produto", "v"), Seq("k"))
    TxStore.commitUpsert(spark, root,
      Seq((1L, "soja", 110.0), (3L, "trigo", 30.0)).toDF("k", "produto", "v"), Seq("k"))
    TxStore.commitDelete(spark, root, col("k") === 2L)
    // a consumer that applies each commit's diff onto its own copy
    var mirror = TxStore.readVersion(spark, root, 1L)
      .as[(Long, String, Double)].collect().toSet
    var hwm = 1L
    val cur = TxStore.currentVersion(root).get
    while (hwm < cur) {
      val delta = TxStore.changesBetween(spark, root, hwm, hwm + 1, Seq("k"))
        .as[(Long, String, Double, String)].collect()
      delta.foreach { case (k, p, v, ct) =>
        mirror = mirror.filterNot(_._1 == k)
        if (ct != "delete") mirror += ((k, p, v))
      }
      hwm += 1
    }
    assert(mirror == rows(root))
  }

  test("restore commit: rollback is a hard-linked commit, bad lineage stays auditable") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0), (2L, "milho", 50.0)).toDF("k", "produto", "v"), root)
    val good = rows(root)
    // a bad load: corrupting update + a spurious delete
    TxStore.commitUpsert(spark, root,
      Seq((1L, "soja", -999.0)).toDF("k", "produto", "v"), Seq("k"))
    TxStore.commitDelete(spark, root, col("k") === 2L)
    assert(rows(root) != good)
    // rollback to v1 as v4
    assert(TxStore.commitRestore(spark, root, 1L) == 4L)
    assert(rows(root) == good)
    // audit trail intact: the bad versions still read, history says restore
    assert(TxStore.readVersion(spark, root, 3L).count() == 1)
    val hist = TxStore.history(spark, root)
      .select("version", "action").as[(Long, String)].collect().toMap
    assert(hist(4L) == "restore")
    // CDC across the whole arc is empty: endpoint v1 == endpoint v4
    assert(TxStore.changesBetween(spark, root, 1L, 4L, Seq("k")).isEmpty)
    // restoring an expired version fails cleanly
    TxStore.expireVersions(root, keepLast = 2)
    val e = intercept[IllegalArgumentException] {
      TxStore.commitRestore(spark, root, 2L)
    }
    assert(e.getMessage.contains("expired"))
  }

  test("snapshot diff emits the post-image even when an update nulls a field") {
    val before = Seq((1L, "soja", "a"), (2L, "milho", "b")).toDF("k", "produto", "tag")
    val after = Seq((1L, "soja", "a"), (2L, "milho", null.asInstanceOf[String]))
      .toDF("k", "produto", "tag")
    val diff = graft.store.Store.snapshotDiff(before, after, Seq("k"))
      .as[(Long, String, Option[String], String)].collect().toSet
    assert(diff == Set((2L, "milho", None, "update")))
  }

  // ---- deletion vectors (merge-on-read DELETE) ----

  private def dataInodes(root: String, v: Long): Set[Any] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(TxStore.versionDir(root, v)))
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(Files.getAttribute(_, "unix:ino")).toSet
    finally s.close()
  }

  test("DV delete: logical view masks rows, data files are links, prior version intact") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0), (2L, "milho", 50.0),
      (3L, "trigo", 30.0), (4L, "soja", 80.0)).toDF("k", "produto", "v"), root)
    assert(TxStore.commitDeleteVectors(spark, root, col("produto") === "soja") == 2L)
    assert(rows(root) == Set((2L, "milho", 50.0), (3L, "trigo", 30.0)))
    // merge-on-read: v2's data files ARE v1's (same inodes, nothing rewritten)
    assert(dataInodes(root, 2L) == dataInodes(root, 1L) && dataInodes(root, 1L).nonEmpty)
    // time travel to the pre-delete version still sees everything
    assert(TxStore.readVersion(spark, root, 1L).count() == 4L)
    assert(TxStore.history(spark, root).where(col("version") === 2)
      .select("action").as[String].head() == "delete_dv")
  }

  test("DV deletes accumulate; NULL predicate keeps the row; purge materializes") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0), (2L, "milho", 50.0),
      (3L, "trigo", 30.0), (4L, "soja", 80.0)).toDF("k", "produto", "v"), root)
    TxStore.commitDeleteVectors(spark, root, col("v") > 90.0)
    TxStore.commitDeleteVectors(spark, root,
      when(col("produto") === "trigo", lit(true))) // NULL elsewhere → kept
    assert(rows(root) == Set((2L, "milho", 50.0), (4L, "soja", 80.0)))
    assert(dataInodes(root, 3L) == dataInodes(root, 1L))
    // purge rewrites: fresh files, no sidecar, identical logical rows
    assert(TxStore.commitPurgeDeletes(spark, root) == 4L)
    assert(rows(root) == Set((2L, "milho", 50.0), (4L, "soja", 80.0)))
    assert(dataInodes(root, 4L).intersect(dataInodes(root, 1L)).isEmpty)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(TxStore.versionDir(root, 4L), "_dv")))
  }

  test("upsert after a DV delete does not resurrect masked rows") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0), (2L, "milho", 50.0)).toDF("k", "produto", "v"), root)
    TxStore.commitDeleteVectors(spark, root, col("k") === 1L)
    TxStore.commitUpsert(spark, root,
      Seq((3L, "trigo", 30.0)).toDF("k", "produto", "v"), Seq("k"))
    assert(rows(root) == Set((2L, "milho", 50.0), (3L, "trigo", 30.0)))
  }

  test("restore onto a DV version carries the mask; CDF sees DV deletes as deletes") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0), (2L, "milho", 50.0),
      (3L, "trigo", 30.0)).toDF("k", "produto", "v"), root)
    TxStore.commitDeleteVectors(spark, root, col("k") === 2L) // v2
    val cdf = TxStore.changesBetween(spark, root, 1L, 2L, Seq("k"))
      .select("k", "change_type").as[(Long, String)].collect().toSet
    assert(cdf == Set((2L, "delete")))
    TxStore.commitPurgeDeletes(spark, root) // v3
    TxStore.commitRestore(spark, root, 2L)  // v4: links v2's tree, _dv included
    assert(rows(root) == Set((1L, "soja", 100.0), (3L, "trigo", 30.0)))
    // the restored mask arrived as links, not a recompute
    assert(dataInodes(root, 4L) == dataInodes(root, 2L))
  }

  test("skipping reads (range + bloom point) respect the deletion vector") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "produto", "v"), root)
    TxStore.commitDeleteVectors(spark, root, col("k") === 2L)
    TxStore.writeStats(spark, root, Seq("k"))
    assert(TxStore.readRange(spark, root, "k", lit(1L), lit(3L))
      .select("k").as[Long].collect().toSet == Set(1L, 3L))
    TxStore.writeBloomStats(spark, root, "k")
    assert(TxStore.readPoint(spark, root, "k", lit(2L)).isEmpty)
    assert(TxStore.readPoint(spark, root, "k", lit(3L)).count() == 1L)
  }

  test("shallow clone: zero-copy v1, independent divergence, DV mask travels") {
    import java.nio.file.{Files => JFiles, Paths}
    val tmp = JFiles.createTempDirectory("graft_clonespec")
    val src = tmp.resolve("src").toString
    val dst = tmp.resolve("dst").toString
    TxStore.init(Seq((1L, "soja", 100.0), (2L, "milho", 50.0),
      (3L, "trigo", 30.0)).toDF("k", "produto", "v"), src)
    TxStore.commitDeleteVectors(spark, src, col("k") === 3L) // MOR mask on source
    assert(TxStore.cloneTable(spark, src, dst) == 1L)
    // clone sees the source's LOGICAL rows (mask traveled with the links)
    assert(rows(dst) == Set((1L, "soja", 100.0), (2L, "milho", 50.0)))
    // zero copy: clone v1 data files share inodes with source v2
    assert(dataInodes(dst, 1L) == dataInodes(src, 2L) && dataInodes(src, 2L).nonEmpty)
    // divergence is independent in both directions
    TxStore.commitUpsert(spark, dst, Seq((9L, "cafe", 9.0)).toDF("k", "produto", "v"), Seq("k"))
    TxStore.commitDelete(spark, src, col("k") === 1L)
    assert(rows(dst) == Set((1L, "soja", 100.0), (2L, "milho", 50.0), (9L, "cafe", 9.0)))
    assert(rows(src) == Set((2L, "milho", 50.0)))
    // provenance in the clone's own log; a second clone into the same root refuses
    assert(TxStore.history(spark, dst).where(col("version") === 1)
      .select("action").as[String].head().startsWith("clone:"))
    intercept[IllegalArgumentException](TxStore.cloneTable(spark, src, dst))
  }

  test("hidden partitioning: source-column point read prunes partitions; MERGE links untouched buckets") {
    import graft.store.Layout
    import java.nio.file.{Files => JFiles, Paths}
    val root = freshRoot()
    val base = (1L to 40L).map(k => (k, k % 10, k * 1.0))
      .toDF("k", "cust", "v")
    TxStore.initHidden(base, root, Layout.Bucket("cust", 4))
    // logical table hides the derived column entirely
    assert(TxStore.readHidden(spark, root).columns.toSeq == Seq("k", "cust", "v"))
    // point read on the SOURCE column: correct rows AND a partition
    // filter on the derived column in the plan
    val got = TxStore.readHiddenEq(spark, root, lit(7L))
    assert(got.as[(Long, Long, Double)].collect().toSet ==
      base.filter(col("cust") === 7L).as[(Long, Long, Double)].collect().toSet)
    assert(planNodes(got).exists {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.partitionFilters.exists(_.references.exists(_.name == Layout.PartCol))
      case _ => false
    }, "expected a partition filter on the derived column")
    // MERGE through the hidden layer: one customer touched => only that
    // bucket rewritten, others hard-linked forward
    TxStore.commitUpsertHidden(spark, root,
      Seq((7L, 7L, 700.0)).toDF("k", "cust", "v"), Seq("k"))
    assert(TxStore.readHiddenEq(spark, root, lit(7L))
      .filter(col("k") === 7L).select("v").as[Double].head() == 700.0)
    def inodes(v: Long, part: String): Set[Any] = {
      val d = Paths.get(TxStore.versionDir(root, v), part)
      val s = JFiles.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(JFiles.getAttribute(_, "unix:ino")).toSet
      } finally s.close()
    }
    val touched = s"${Layout.PartCol}=${spark.range(1)
      .select(Layout.Bucket("cust", 4)(lit(7L))).head().getLong(0)}"
    val parts = {
      val s = JFiles.list(Paths.get(TxStore.versionDir(root, 2L)))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(s"${Layout.PartCol}=")).toSet
      } finally s.close()
    }
    assert(parts.contains(touched))
    parts.filterNot(_ == touched).foreach { p =>
      assert(inodes(2L, p) == inodes(1L, p) && inodes(1L, p).nonEmpty,
        s"untouched bucket $p must be hard-linked")
    }
    assert(inodes(2L, touched).intersect(inodes(1L, touched)).isEmpty,
      "touched bucket must be rewritten")
  }

  test("hidden days transform: range read on the source column prunes day directories") {
    import graft.store.Layout
    val root = freshRoot()
    val df = Seq(
      (1L, "2024-01-01 10:00:00", 1.0), (2L, "2024-01-02 11:00:00", 2.0),
      (3L, "2024-01-03 12:00:00", 3.0), (4L, "2024-01-04 13:00:00", 4.0))
      .toDF("k", "ts", "v")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    TxStore.initHidden(df, root, Layout.Days("ts"))
    val got = TxStore.readHiddenRange(spark, root,
      lit("2024-01-02 00:00:00").cast("timestamp_ntz"),
      lit("2024-01-03 23:59:59").cast("timestamp_ntz"))
    assert(got.select("k").as[Long].collect().toSet == Set(2L, 3L))
    assert(planNodes(got).exists {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.partitionFilters.exists(_.references.exists(_.name == Layout.PartCol))
      case _ => false
    })
    // order-destroying transform refuses the range API outright
    intercept[IllegalArgumentException] {
      val broot = freshRoot()
      TxStore.initHidden(Seq((1L, 2L, 3.0)).toDF("k", "cust", "v"),
        broot, Layout.Bucket("cust", 4))
      TxStore.readHiddenRange(spark, broot, lit(1L), lit(2L))
    }
  }

  test("DV delete refuses a partitioned layout; racing DV writers: one winner") {
    val root = freshRoot()
    TxStore.initPartitioned(
      Seq((1L, "soja", 100.0), (2L, "milho", 50.0)).toDF("k", "produto", "v"),
      root, "produto")
    intercept[IllegalArgumentException] {
      TxStore.commitDeleteVectors(spark, root, col("k") === 1L)
    }
    val flat = freshRoot()
    TxStore.init(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "produto", "v"), flat)
    // stale expected version conflicts cleanly and changes nothing
    TxStore.commitDeleteVectors(spark, flat, col("k") === 1L) // v2
    intercept[TxStore.ConcurrentCommitException] {
      TxStore.commitDeleteVectors(spark, flat, col("k") === 2L,
        expectedVersion = Some(1L))
    }
    assert(TxStore.currentVersion(flat).contains(2L))
    assert(rows(flat) == Set((2L, "b", 2.0)))
  }

  test("conflicted writers RETRY to convergence; every version stays time-travelable mid-race") {
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    TxStore.init(Seq((0L, "init", 0.0)).toDF("k", "produto", "v"), root)
    val nWriters = 4
    val barrier = new java.util.concurrent.CyclicBarrier(nWriters)
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // the documented client protocol: read the current version, commit
    // against it, and on ConcurrentCommitException re-read and retry —
    // N racing writers must ALL land, serialized into N linear commits
    val writers = (1 to nWriters).map { tag =>
      new Thread(() => {
        try {
          barrier.await()
          val upd = Seq((tag.toLong, s"w$tag", tag.toDouble)).toDF("k", "produto", "v")
          var done = false
          while (!done) {
            attempts.incrementAndGet()
            val base = TxStore.currentVersion(root)
            try { TxStore.commitUpsert(spark, root, upd, Seq("k"),
              expectedVersion = base); done = true }
            catch { case _: TxStore.ConcurrentCommitException => () }
          }
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    writers.foreach(_.start()); writers.foreach(_.join())
    assert(errors.isEmpty, s"writer died: ${errors.asScala.toSeq}")
    assert(attempts.get() >= nWriters) // retries happened or all landed first try
    assert(TxStore.currentVersion(root).contains(1L + nWriters))
    assert(rows(root).map(_._1) == (0L to nWriters.toLong).toSet,
      "every retried writer's row must land exactly once")
    // time travel: version v was committed with exactly v rows and that
    // remains readable AFTER the race — no version was torn or replaced
    (1L to (1L + nWriters)).foreach { v =>
      assert(TxStore.readVersion(spark, root, v).count() == v,
        s"v$v must hold exactly $v rows")
    }
    // the manifest chain is linear (each commit's parent is its predecessor)
    val h = TxStore.history(spark, root).select("version", "parent")
      .as[(Long, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(h == (1L to (1L + nWriters)).map(v => (v, if (v == 1) None else Some(v - 1))))
  }

  test("days transform refuses a session-tz-aware timestamp column") {
    import graft.store.Layout
    val root = freshRoot()
    val df = Seq((1L, "2024-01-01 10:00:00", 1.0)).toDF("k", "ts", "v")
      .withColumn("ts", col("ts").cast("timestamp")) // tz-aware: rendered day depends on session tz
    val e = intercept[IllegalArgumentException] {
      TxStore.initHidden(df, root, Layout.Days("ts"))
    }
    assert(e.getMessage.contains("tz-free"))
    // and on the MERGE path of an existing days table too
    val okRoot = freshRoot()
    TxStore.initHidden(
      Seq((1L, "2024-01-01 10:00:00", 1.0)).toDF("k", "ts", "v")
        .withColumn("ts", col("ts").cast("timestamp_ntz")),
      okRoot, Layout.Days("ts"))
    intercept[IllegalArgumentException] {
      TxStore.commitUpsertHidden(spark, okRoot,
        Seq((2L, "2024-01-02 10:00:00", 2.0)).toDF("k", "ts", "v")
          .withColumn("ts", col("ts").cast("timestamp")),
        Seq("k"))
    }
  }

  test("layout spec rejects JSON-breaking column names at write time") {
    import graft.store.Layout
    val root = freshRoot()
    intercept[IllegalArgumentException] {
      Layout.write(root, Layout.Bucket("""a"b""", 4))
    }
    intercept[IllegalArgumentException] {
      Layout.write(root, Layout.Identity("a,b}"))
    }
    // round-trip of a legal name is unchanged
    Layout.write(root, Layout.Bucket("o_custkey", 8))
    assert(Layout.read(root) == Layout.Bucket("o_custkey", 8))
  }

  test("vacuum reclaims dead staging dirs and orphaned claims; live history untouched") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0)).toDF("k", "produto", "v"), root)
    TxStore.commitUpsert(spark, root,
      Seq((2L, "milho", 50.0)).toDF("k", "produto", "v"), Seq("k"))
    val versions = java.nio.file.Paths.get(root, "_versions")
    // a writer that died mid-BUILD leaves its unique staging dir...
    val staging = versions.resolve("v3.staging.deadbeef")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.writeString(staging.resolve("part-0.parquet"), "x")
    // ...and one that died between CLAIM and FLIP leaves a claimed dir
    // above _current that blocks v3 for every later writer
    val claimed = versions.resolve("v3")
    java.nio.file.Files.createDirectories(claimed)
    java.nio.file.Files.writeString(claimed.resolve("part-0.parquet"), "x")
    // ...and a commit-race LOSER's staging for a version that DID get
    // committed (by the winner) — debris next to a live snapshot
    val loserStaging = versions.resolve("v2.staging.cafe")
    java.nio.file.Files.createDirectories(loserStaging)
    java.nio.file.Files.writeString(loserStaging.resolve("part-0.parquet"), "x")
    intercept[TxStore.ConcurrentCommitException] {
      TxStore.commitUpsert(spark, root,
        Seq((3L, "trigo", 30.0)).toDF("k", "produto", "v"), Seq("k"))
    }
    val removed = TxStore.vacuum(root)
    assert(!java.nio.file.Files.exists(staging), "staging orphan reclaimed")
    assert(!java.nio.file.Files.exists(claimed), "dead claim reclaimed")
    assert(!java.nio.file.Files.exists(loserStaging), "loser staging reclaimed")
    // reporting: v3 (above the pointer) is removed; v2 is a LIVE
    // committed version — its loser-staging debris must not be
    // reported as a removed version
    assert(removed.contains(3L), "orphaned v3 reported removed")
    assert(!removed.contains(2L), "live v2 not reported removed")
    // the blocked version number is usable again; history stays linear
    assert(TxStore.commitUpsert(spark, root,
      Seq((3L, "trigo", 30.0)).toDF("k", "produto", "v"), Seq("k")) == 3L)
    assert(rows(root) ==
      Set((1L, "soja", 100.0), (2L, "milho", 50.0), (3L, "trigo", 30.0)))
    assert(TxStore.readVersion(spark, root, 1L).count() == 1)
  }

  test("stats/bloom sidecars survive RESTORE after the source version expires (name-keyed)") {
    val root = freshRoot()
    // every key but 1001, so 1001 is an absent key inside the keyspace
    val base = (1L to 2000L).filter(_ != 1001L).map(k => (k, (k * 2654435761L) % 1000L, s"p${k % 7}"))
      .toDF("k", "g", "produto")
    TxStore.init(base.repartitionByRange(8, col("k")), root)
    TxStore.writeBloomStats(spark, root, "k")                 // blooms from v2 on
    TxStore.commitZorder(spark, root, "k", "g", numFiles = 8) // v2
    // layout churn on top, then roll back to the z-ordered version
    TxStore.commitRepartition(spark, root, "produto")         // v3
    TxStore.commitRestore(spark, root, toVersion = 2L)        // v4 links v2
    // expire everything below the restore — the restored version's
    // footers must keep working with their SOURCE files gone
    TxStore.expireVersions(root, keepLast = 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(TxStore.versionDir(root, 2L))))
    val got = TxStore.readRange(spark, root, "g", lit(0L), lit(100L))
      .as[(Long, Long, String)].collect().toSet
    val want = base.filter($"g".between(0L, 100L)).as[(Long, Long, String)]
      .collect().toSet
    assert(got == want, "range read over the restored version after expiry")
    val pt = TxStore.readPoint(spark, root, "k", lit(42L))
      .as[(Long, Long, String)].collect().toSet
    assert(pt == base.filter($"k" === 42L).as[(Long, Long, String)].collect().toSet)
    // and the skipping is real, not a lossy fallback: strict file subset
    val v4 = TxStore.versionDir(root, 4L)
    val (kept, total) = graft.store.Skipping.pruneFiles(spark, v4, "g", lit(0L), lit(100L))
    assert(total == 8 && kept.size < total, s"pruning intact: ${kept.size}/$total")
    // v4's files are v2's, blooms included: they rule out the absent key
    assert(bloomed(root, 4L, absent = 1001L), "blooms intact after restore + expiry")
    assert(TxStore.readPoint(spark, root, "k", lit(1001L)).count() == 0L)
  }

  test("clone racing retention: every successful clone is a complete committed snapshot") {
    // cloneTable holds only the DESTINATION lock, so a source-side
    // expireVersions can delete the version being linked mid-clone.
    // The contract: a clone either fails with the retryable conflict
    // or lands COMPLETE — never a silent partial (the seam the
    // before/after listing in linkTreeVerified closes; a bare
    // post-link exists() check let partials through).
    val root = freshRoot()
    // version k holds exactly 100+k rows spread over 4 files, so any
    // clone that lost a file cannot match ANY committed row count
    def snap(n: Int) = (1 to n).map(i => (i.toLong, s"p$i", i * 1.0))
      .toDF("k", "produto", "v").repartition(4)
    TxStore.init(snap(101), root)
    val committedCounts =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    committedCounts.add(101L)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // writer: advance the table and expire aggressively (keepLast=1)
    val writer = new Thread(() => {
      var n = 102
      while (!stop.get() && n < 140) {
        TxStore.commitReplace(spark, root, snap(n))
        committedCounts.add(n.toLong)
        TxStore.expireVersions(root, keepLast = 1)
        n += 1
      }
      stop.set(true)
    })
    writer.start()
    var clones = 0; var conflicts = 0
    val base = java.nio.file.Files.createTempDirectory("graft_clone_race")
    try {
      var i = 0
      while (!stop.get() && i < 200) {
        val dst = base.resolve(s"c$i").toString
        try {
          TxStore.cloneTable(spark, root, dst)
          val got = TxStore.read(spark, dst).count()
          assert(committedCounts.contains(got),
            s"partial clone: $got rows matches no committed snapshot")
          clones += 1
        } catch {
          case _: TxStore.ConcurrentCommitException => conflicts += 1
          case e: IllegalStateException
            if e.getMessage.contains("no committed version") => conflicts += 1
        }
        i += 1
      }
    } finally { stop.set(true); writer.join(60000) }
    assert(clones > 0, s"race produced no successful clone ($conflicts conflicts)")
  }

  test("append commit: O(batch) write, base hard-linked forward, time travel intact") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0), (2L, "milho", 50.0)).toDF("k", "produto", "v"), root)
    // columns deliberately reordered: append must align to the table layout
    val batch = Seq(("arroz", 3L, 25.0), ("trigo", 4L, 12.5)).toDF("produto", "k", "v")
    assert(TxStore.commitAppend(spark, root, batch) == 2L)
    assert(rows(root) == Set((1L, "soja", 100.0), (2L, "milho", 50.0),
      (3L, "arroz", 25.0), (4L, "trigo", 12.5)))
    // prior version untouched by the append
    assert(TxStore.readVersion(spark, root, 1L).as[(Long, String, Double)]
      .collect().toSet == Set((1L, "soja", 100.0), (2L, "milho", 50.0)))
    // every v1 parquet file is carried into v2 by name (link, not rewrite)
    def parquetNames(v: Long): Set[String] = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(
        java.nio.file.Paths.get(TxStore.versionDir(root, v)))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    assert(parquetNames(1L).subsetOf(parquetNames(2L)))
    assert(TxStore.history(spark, root).where($"version" === 2L)
      .select("action").as[String].head() == "append")
    // schema drift is a loud error, not a silent column shuffle
    intercept[IllegalArgumentException] {
      TxStore.commitAppend(spark, root, Seq((5L, "x")).toDF("k", "produto"))
    }
  }

  test("batch-append fence: replays dropped, fresh batches applied, empty batches versionless") {
    val root = freshRoot()
    val b1 = Seq((1L, "soja", 100.0)).toDF("k", "produto", "v")
    assert(TxStore.commitBatchAppend(spark, root, b1, batchId = 0L))
    val b2 = Seq((2L, "milho", 50.0)).toDF("k", "produto", "v")
    assert(TxStore.commitBatchAppend(spark, root, b2, batchId = 1L))
    assert(rows(root) == Set((1L, "soja", 100.0), (2L, "milho", 50.0)))
    val v = TxStore.currentVersion(root)
    // replay of batch 1 (restart semantics): dropped wholesale
    assert(!TxStore.commitBatchAppend(spark, root, b2, batchId = 1L))
    assert(TxStore.currentVersion(root) == v)
    // an empty novel batch advances the fence but mints no version
    assert(TxStore.commitBatchAppend(spark, root, b1.limit(0), batchId = 2L))
    assert(TxStore.currentVersion(root) == v)
    assert(TxStore.lastBatchId(root).contains(2L))
  }

  test("append fence survives a crash between pointer flip and fence write") {
    // a replayed APPEND is not value-idempotent, so the fence must
    // commit atomically with the data: losing the post-flip fence file
    // (the crash-gap state) must still drop the replay — the committed
    // version's own staged marker carries the batch id
    val root = freshRoot()
    val b1 = Seq((1L, "soja", 100.0)).toDF("k", "produto", "v")
    val b2 = Seq((2L, "milho", 50.0)).toDF("k", "produto", "v")
    TxStore.commitBatchAppend(spark, root, b1, batchId = 0L)
    TxStore.commitBatchAppend(spark, root, b2, batchId = 1L)
    // simulate the crash gap: fence file gone, version already flipped
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "_last_batch"))
    assert(TxStore.lastBatchId(root).contains(1L)) // marker still fences
    assert(!TxStore.commitBatchAppend(spark, root, b2, batchId = 1L))
    assert(rows(root) == Set((1L, "soja", 100.0), (2L, "milho", 50.0)))
    // same gap on the VERY FIRST batch: v1's marker fences the re-init
    val root2 = freshRoot()
    TxStore.commitBatchAppend(spark, root2, b1, batchId = 0L)
    java.nio.file.Files.delete(java.nio.file.Paths.get(root2, "_last_batch"))
    assert(!TxStore.commitBatchAppend(spark, root2, b1, batchId = 0L))
    assert(rows(root2) == Set((1L, "soja", 100.0)))
    // and the sink keeps absorbing fresh batches after recovery
    assert(TxStore.commitBatchAppend(spark, root2, b2, batchId = 1L))
    assert(rows(root2) == Set((1L, "soja", 100.0), (2L, "milho", 50.0)))
  }

  test("an appended version answers readRange/readPoint with its new row, no rebuild") {
    val root = freshRoot()
    val base = (1L to 100L).map(k => (k, s"p$k", k * 1.0)).toDF("k", "produto", "v")
      .repartitionByRange(4, $"k")
    TxStore.writeBloomStats(spark, root, "k")
    TxStore.init(base, root)
    TxStore.writeStats(spark, root, Seq("k"))
    assert(TxStore.readRange(spark, root, "k", lit(1L), lit(10L)).count() == 10)
    TxStore.commitAppend(spark, root,
      Seq((101L, "novo", 1.0)).toDF("k", "produto", "v"))
    // the appended file carries its own footer and bloom; the linked
    // base files keep theirs, so no metadata describes a stale file set
    assert(TxStore.readRange(spark, root, "k", lit(90L), lit(200L))
      .select("k").as[Long].collect().toSet == (90L to 101L).toSet)
    assert(TxStore.readPoint(spark, root, "k", lit(101L)).count() == 1L)
    val (kept, total) = graft.store.Skipping.pruneFilesByBloom(spark,
      TxStore.versionDir(root, 2L), "k", lit(101L))
    assert(total == 5 && kept.size == 1, s"point read kept ${kept.size} of $total")
  }

  /** Whether the files of `root`'s version `v` carry blooms on `k`: an
    * absent key inside every file's [min,max] survives only a bloom-less
    * file (or a false positive).
    */
  private def bloomed(root: String, v: Long, absent: Long): Boolean = {
    val (kept, total) = graft.store.Skipping.pruneFilesByBloom(spark,
      TxStore.versionDir(root, v), "k", lit(absent))
    kept.size < total
  }

  /** Even keys 0..1998 hash-laid over 4 files: every file spans the keyspace. */
  private def evens = (0L until 1000L).map(i => (i * 2, s"p$i", i * 1.0))
    .toDF("k", "produto", "v").repartition(4, $"produto")

  test("s13's layout: the TxStore point read prunes to <= 2 of 8 files") {
    val sf = "/root/testdata/sf0.001"
    val root = graft.queries.StoreOps.s13Build(spark, sf)
    val key = spark.read.parquet(s"$sf/orders.parquet").select("o_orderkey")
      .orderBy("o_orderkey").head().getLong(0)
    val df = TxStore.readPoint(spark, root, "o_orderkey", lit(key))
    assert(df.count() == 1L)
    val (_, total) = graft.store.Skipping.pruneFiles(spark,
      TxStore.versionDir(root, 1L), "o_orderkey", lit(key), lit(key))
    assert(total == 8 && df.inputFiles.length <= 2,
      s"kept ${df.inputFiles.length} of $total files")
  }

  test("a clone carries the declared blooms: its next commit writes them") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_clonebloom")
    val (src, dst) = (tmp.resolve("src").toString, tmp.resolve("dst").toString)
    TxStore.writeBloomStats(spark, src, "k")
    TxStore.init(evens, src)
    assert(bloomed(src, 1L, absent = 1001L))
    TxStore.cloneTable(spark, src, dst)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dst, "_skipping.json")))
    TxStore.commitCompaction(spark, dst, numFiles = 4)
    assert(bloomed(dst, 2L, absent = 1001L), "the clone's own commit wrote no blooms")
    assert(TxStore.readPoint(spark, dst, "k", lit(1000L)).count() == 1L)
  }

  test("a commit that throws after staging bloom-bearing files leaves nothing behind") {
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    TxStore.writeBloomStats(spark, root, "k")
    TxStore.init(evens, root)
    intercept[IllegalStateException] {
      TxStore.commitReplace(spark, root, evens,
        beforeFlip = _ => throw new IllegalStateException("crash before the flip"))
    }
    assert(TxStore.currentVersion(root).contains(1L))
    assert(!JFiles.exists(Paths.get(root, "_log", "v2.json")))
    val left = {
      val w = JFiles.walk(Paths.get(root))
      try w.iterator().asScala.map(p => Paths.get(root).relativize(p).toString).toSeq
      finally w.close()
    }
    assert(!left.exists(p => p.startsWith("_versions/v2") || p.contains(".tmp")),
      s"left behind: ${left.filter(p => p.startsWith("_versions/v2") || p.contains(".tmp"))}")
    // the next commit takes v2 and carries blooms
    assert(TxStore.commitCompaction(spark, root, numFiles = 4) == 2L)
    assert(bloomed(root, 2L, absent = 1001L))
  }

  test("a damaged _skipping.json declares no blooms; results never depend on it") {
    val root = freshRoot()
    TxStore.init(evens, root)
    val spec = java.nio.file.Paths.get(root, "_skipping.json")
    for (junk <- Seq("""{"bloom":["k"""", "not json", """{"bloom":["k;drop"]}""")) {
      java.nio.file.Files.writeString(spec, junk)
      val v = TxStore.commitCompaction(spark, root, numFiles = 4)
      assert(!bloomed(root, v, absent = 1001L), s"blooms written under '$junk'")
      assert(TxStore.readPoint(spark, root, "k", lit(1000L)).count() == 1L)
      assert(TxStore.readPoint(spark, root, "k", lit(1001L)).count() == 0L)
    }
    // declaring again repairs the spec; the next commit writes blooms
    TxStore.writeBloomStats(spark, root, "k")
    val v = TxStore.commitCompaction(spark, root, numFiles = 4)
    assert(bloomed(root, v, absent = 1001L))
  }

  test("a bloom on a non-ASCII column is kept with the earlier declarations") {
    val root = freshRoot()
    TxStore.init(evens.withColumn("região", $"k" + 1), root)
    TxStore.writeBloomStats(spark, root, "k")
    TxStore.writeBloomStats(spark, root, "região")
    val v = TxStore.commitCompaction(spark, root, numFiles = 4)
    assert(bloomed(root, v, absent = 1001L), "the earlier bloom on k was dropped")
    val (kept, total) = graft.store.Skipping.pruneFilesByBloom(spark,
      TxStore.versionDir(root, v), "região", lit(1000L)) // região holds odd values only
    assert(kept.size < total, s"no bloom on região: kept ${kept.size} of $total")
    assert(TxStore.readPoint(spark, root, "região", lit(1001L)).count() == 1L)
  }

  test("append fence survives maintenance commits minted inside the crash gap") {
    val root = freshRoot()
    val b1 = Seq((1L, "soja", 100.0)).toDF("k", "produto", "v")
    val b2 = Seq((2L, "milho", 50.0)).toDF("k", "produto", "v")
    TxStore.commitBatchAppend(spark, root, b1, batchId = 0L)
    TxStore.commitBatchAppend(spark, root, b2, batchId = 1L)
    val fence = java.nio.file.Paths.get(root, "_last_batch")
    // crash gap: fence file lost, fence lives only in v-current's marker.
    // A fenced replay must repair the file, not just return false —
    // otherwise the fence stays one maintenance commit from erasure.
    java.nio.file.Files.delete(fence)
    assert(!TxStore.commitBatchAppend(spark, root, b2, batchId = 1L))
    assert(java.nio.file.Files.readString(fence).trim == "1")
    // same gap, but a COMPACTION (marker-less version) lands before any
    // replay: the flip must persist the marker into the fence file, or
    // the subsequent replay double-appends
    java.nio.file.Files.delete(fence)
    TxStore.commitCompaction(spark, root, numFiles = 1)
    assert(TxStore.lastBatchId(root).contains(1L))
    assert(!TxStore.commitBatchAppend(spark, root, b2, batchId = 1L))
    assert(rows(root) == Set((1L, "soja", 100.0), (2L, "milho", 50.0)))
    // fresh batches still apply after all that surgery
    assert(TxStore.commitBatchAppend(spark, root,
      Seq((3L, "arroz", 25.0)).toDF("k", "produto", "v"), batchId = 2L))
    assert(rows(root) == Set((1L, "soja", 100.0), (2L, "milho", 50.0),
      (3L, "arroz", 25.0)))
  }

  test("append with drifted column types is a loud error, not mixed physical schemas") {
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0)).toDF("k", "produto", "v"), root)
    // same column NAMES, but k arrives as Int where the table holds Long
    val e = intercept[IllegalArgumentException] {
      TxStore.commitAppend(spark, root,
        Seq((2, "milho", 50.0)).toDF("k", "produto", "v"))
    }
    assert(e.getMessage.contains("drifted"))
    assert(TxStore.currentVersion(root).contains(1L)) // nothing minted
    // a correctly-typed batch still appends
    TxStore.commitAppend(spark, root,
      Seq((2L, "milho", 50.0)).toDF("k", "produto", "v"))
    assert(rows(root) == Set((1L, "soja", 100.0), (2L, "milho", 50.0)))
  }

  test("append drift check ignores nested nullability, not just top-level") {
    import org.apache.spark.sql.functions._
    val root = freshRoot()
    // table column: array<string> with containsNull = true
    TxStore.init(Seq((1L, Seq(Option("a"), None))).toDF("k", "tags"), root)
    // batch built via array(lit(...)): containsNull = false — the same
    // TYPE; parquet stores nullability per file, so this appends safely
    val batch = Seq(2L).toDF("k")
      .withColumn("tags", array(lit("b"), lit("c")))
    assert(batch.schema("tags").dataType !=
      spark.read.parquet(TxStore.versionDir(root, 1L)).schema("tags").dataType)
    TxStore.commitAppend(spark, root, batch)
    assert(TxStore.read(spark, root).count() == 2L)
    // a genuinely drifted nested type still fails loudly
    val drifted = Seq(3L).toDF("k").withColumn("tags", array(lit(1), lit(2)))
    val e = intercept[IllegalArgumentException] {
      TxStore.commitAppend(spark, root, drifted)
    }
    assert(e.getMessage.contains("drifted"))
  }

  test("garbage fence file is tolerated as absent, not a commit-blocking crash") {
    val root = freshRoot()
    val b1 = Seq((1L, "soja", 100.0)).toDF("k", "produto", "v")
    TxStore.commitBatchAppend(spark, root, b1, batchId = 0L)
    val fence = java.nio.file.Paths.get(root, "_last_batch")
    // a torn/garbage fence (pre-atomic writer crash, manual damage)
    // must not turn every later commit into NumberFormatException —
    // the version marker still fences, and the next commit repairs it
    java.nio.file.Files.writeString(fence, "")
    assert(TxStore.lastBatchId(root).contains(0L)) // marker carries the id
    assert(!TxStore.commitBatchAppend(spark, root, b1, batchId = 0L))
    assert(java.nio.file.Files.readString(fence).trim == "0") // repaired
    java.nio.file.Files.writeString(fence, "not-a-number\n")
    // maintenance commits (which run preserveFence) survive garbage too
    TxStore.commitCompaction(spark, root, numFiles = 1)
    assert(TxStore.lastBatchId(root).contains(0L))
    assert(TxStore.commitBatchAppend(spark, root,
      Seq((2L, "milho", 50.0)).toDF("k", "produto", "v"), batchId = 1L))
    assert(rows(root) == Set((1L, "soja", 100.0), (2L, "milho", 50.0)))
  }

  test("a damaged _batch_id marker fails reads and commits, naming the marker and its version") {
    import java.nio.file.{Files, Paths}
    val root = freshRoot()
    TxStore.commitBatchAppend(spark, root, Seq((1L, "soja", 100.0)).toDF("k", "produto", "v"),
      batchId = 0L)
    val marker = Paths.get(TxStore.versionDir(root, 1L), "_batch_id")
    Files.writeString(marker, "not-a-number\n")
    def failsNamingMarker(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains(marker.toString) && e.getMessage.contains("v1"), e.getMessage)
    }
    // the marker may be the only record of its batch: the fence stays
    // strict instead of reading the damage as absent
    failsNamingMarker(TxStore.lastBatchId(root))
    failsNamingMarker(TxStore.commitCompaction(spark, root, numFiles = 1))
    assert(TxStore.currentVersion(root).contains(1L))
    assert(!Files.exists(Paths.get(TxStore.versionDir(root, 2L))))
    assert(rows(root) == Set((1L, "soja", 100.0)))
  }

  test("a damaged _current pointer fails reads and commits, naming the pointer and its table") {
    import java.nio.file.{Files, Paths}
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0)).toDF("k", "produto", "v"), root)
    val pointer = Paths.get(root, "_current")
    Files.writeString(pointer, "1\u0000garbage")
    def failsNamingPointer(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains(pointer.toString) && e.getMessage.contains(root), e.getMessage)
    }
    // the pointer is the table: damage is never read as "no table"
    failsNamingPointer(TxStore.currentVersion(root))
    failsNamingPointer(TxStore.read(spark, root))
    failsNamingPointer(TxStore.commitUpsert(spark, root,
      Seq((2L, "milho", 50.0)).toDF("k", "produto", "v"), Seq("k")))
    assert(!Files.exists(Paths.get(TxStore.versionDir(root, 2L))))
  }

  test("a stale base conflicts before any work, on every commit entry point") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    TxStore.init(Seq((1L, "soja", 100.0), (2L, "milho", 50.0)).toDF("k", "produto", "v"), root)
    (3L to 4L).foreach(k => TxStore.commitUpsert(spark, root,
      Seq((k, "trigo", 1.0)).toDF("k", "produto", "v"), Seq("k")))   // -> v3
    assert(TxStore.expireVersions(root, keepLast = 1) == Seq(1L, 2L))
    def listing(dir: String): Set[String] = {
      val s = Files.list(Paths.get(root, dir))
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    val (versions, logs) = (listing("_versions"), listing("_log"))
    val upd = Seq((9L, "cafe", 9.0)).toDF("k", "produto", "v")
    val stale = Some(1L) // expired by retention: its directory is gone
    val entryPoints: Seq[(String, () => Long)] = Seq(
      "commitUpsert" -> (() => TxStore.commitUpsert(spark, root, upd, Seq("k"), stale)),
      "commitUpsertEvolve" -> (() =>
        TxStore.commitUpsertEvolve(spark, root, upd, Seq("k"), stale)),
      "commitUpsertPartitioned" -> (() =>
        TxStore.commitUpsertPartitioned(spark, root, upd, Seq("k"), "produto", stale)),
      "commitUpsertChecked" -> (() => TxStore.commitUpsertChecked(spark, root, upd,
        Seq("k"), Map("positive" -> (col("v") > 0)), stale)),
      "commitDelete" -> (() => TxStore.commitDelete(spark, root, col("k") === 1L, stale)),
      "commitDeleteVectors" -> (() =>
        TxStore.commitDeleteVectors(spark, root, col("k") === 1L, stale)),
      "commitPurgeDeletes" -> (() => TxStore.commitPurgeDeletes(spark, root, stale)),
      "commitRestore" -> (() => TxStore.commitRestore(spark, root, 3L, stale)),
      "commitCompaction" -> (() => TxStore.commitCompaction(spark, root, 1, stale)),
      "commitZorder" -> (() => TxStore.commitZorder(spark, root, "k", "v", 1, stale)),
      "commitRepartition" -> (() =>
        TxStore.commitRepartition(spark, root, "produto", stale)),
      "commitReplace" -> (() =>
        TxStore.commitReplace(spark, root, upd, expectedVersion = stale)),
      "commitAppend" -> (() => TxStore.commitAppend(spark, root, upd, stale)))
    entryPoints.foreach { case (name, call) =>
      val e = intercept[Exception](call())
      assert(e.isInstanceOf[TxStore.ConcurrentCommitException],
        s"$name: expected a conflict, got $e")
      assert(TxStore.currentVersion(root).contains(3L), s"$name moved the pointer")
      assert(listing("_log") == logs, s"$name left a manifest")
      assert(listing("_versions") == versions, s"$name left a version directory")
    }
  }

  test("vacuum reclaims an orphaned v1 claim on a table with no pointer") {
    import java.nio.file.{Files, Paths}
    val root = freshRoot()
    // a writer that died between claiming v1 and the first flip
    val v1 = Paths.get(TxStore.versionDir(root, 1L))
    Files.createDirectories(v1)
    Files.writeString(v1.resolve("part-0.parquet"), "x")
    assert(TxStore.currentVersion(root).isEmpty)
    assert(TxStore.vacuum(root) == Seq(1L))
    assert(!Files.exists(v1))
    assert(TxStore.init(Seq((1L, "soja", 100.0)).toDF("k", "produto", "v"), root) == 1L)
    assert(rows(root) == Set((1L, "soja", 100.0)))
  }

  test("initHidden with a rejected layout spec leaves no table behind") {
    import graft.store.Layout
    val root = freshRoot()
    val df = Seq((1L, 2L, 3.0)).toDF("k", "a-b c", "v")
    intercept[IllegalArgumentException] {
      TxStore.initHidden(df, root, Layout.Bucket("a-b c", 4))
    }
    assert(TxStore.currentVersion(root).isEmpty, "rejected layout must not commit v1")
    assert(TxStore.initHidden(df.withColumnRenamed("a-b c", "cust"), root,
      Layout.Bucket("cust", 4)) == 1L)
    assert(TxStore.readHiddenEq(spark, root, lit(2L)).count() == 1)
  }

  test("writeAtomic replaces the whole file and leaves no tmp sibling") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_atomic")
    val f = dir.resolve("_pointer")
    TxStore.writeAtomic(f, "12345")
    TxStore.writeAtomic(f, "7")
    assert(Files.readString(f) == "7")
    val s = Files.list(dir)
    val names = try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    assert(names == Set("_pointer"))
  }

  test("the _batch_id marker has one writer, inside the commit protocol") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    val writes = """Files\.write\w*\([^\n]*"_batch_id"""".r
    val files = Files.walk(root)
    val sites = try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> writes.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0).toMap
    finally files.close()
    assert(sites == Map("graft/store/TxStore.scala" -> 1), sites)
  }

  test("the commit protocol has one call site each of claim, manifest and flip") {
    import java.nio.file.{Files, Paths}
    val src = Files.readString(Paths.get("src/main/scala/graft/store/TxStore.scala"))
    Seq("claimVersion", "writeManifest", "flipPointer").foreach { f =>
      val calls = s"(?<!def )\\b$f\\(".r.findAllIn(src).size
      assert(calls == 1, s"$f( has $calls call sites in TxStore.scala; route commits through commit()")
    }
  }
}
