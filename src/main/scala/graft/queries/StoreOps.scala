package graft.queries

import org.apache.spark.sql.functions._
import graft.queries.T._
import graft.store.Store
import graft.store.Skipping

/** Store-operation family (SURVEY §2.1 S7-S10): MERGE upsert and
  * content-hash export, both oracle-checked. S7 (predicate scan) and
  * S10 (as-of snapshot) are exercised by q19/q02.
  */
object StoreOps {

  /** S8 — MERGE upsert: every 10th order gets a price update AND a new
    * row with a fresh key; updates must replace, inserts must append
    * (reference `cache/duckdb_store.py:417-461`).
    */
  val s01 = Q("s01_upsert_merge",
    (s, dir) => {
      val base = load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val touched = load(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(10)) === 0)
      val updates = touched
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 100000.0).as("o_totalprice"))
        .unionByName(touched.select((col("o_orderkey") + 5000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice")))
      Store.upsert(base, updates, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      WITH updates AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 100000.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 5000000, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0),
      base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders)
      SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
      UNION ALL SELECT * FROM updates
      ORDER BY o_orderkey"""))

  /** S9/F13 — canonical content hash: per-row canonical string, sorted,
    * sha256 (reference `models.py:177-179` hashes the canonical CSV).
    */
  val s02 = Q("s02_content_hash",
    (s, dir) => Store.contentHash(load(s, dir, "orders"),
      Seq("o_orderkey", "o_orderstatus", "o_orderpriority")),
    Some("""
      SELECT COUNT(*) AS n_rows,
        sha256(string_agg(r, chr(10) ORDER BY r)) AS content_hash
      FROM (SELECT concat_ws('|', o_orderkey, o_orderstatus, o_orderpriority) AS r
            FROM orders) t"""))

  /** S8 under the transactional commit protocol: same MERGE as s01 but
    * through [[graft.store.TxStore]] — init v1, commitUpsert to v2,
    * read back the committed snapshot. Same oracle as s01: the ACID
    * path must be invisible in the result.
    */
  val s03 = Q("s03_tx_upsert",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_tx")
        .resolve("t").toString
      val base = load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.store.TxStore.init(base, root)
      val touched = load(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(10)) === 0)
      val updates = touched
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 100000.0).as("o_totalprice"))
        .unionByName(touched.select((col("o_orderkey") + 5000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice")))
      graft.store.TxStore.commitUpsert(s, root, updates, Seq("o_orderkey"))
      graft.store.TxStore.read(s, root).orderBy(col("o_orderkey"))
    },
    Some("""
      WITH updates AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 100000.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 5000000, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0),
      base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders)
      SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
      UNION ALL SELECT * FROM updates
      ORDER BY o_orderkey"""))

  /** s03's MERGE through the INCREMENTAL partitioned commit: base is
    * partitioned on pmod(o_orderkey, 10); the updates touch only
    * partition 0, so nine of ten partitions are hard-linked forward,
    * never rewritten — commit cost ∝ touched data. Same oracle as s03
    * (minus rows whose partition the updates touch differently): the
    * commit protocol must be invisible in the result.
    */
  val s04 = Q("s04_tx_partitioned",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_txpart")
        .resolve("t").toString
      val base = load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          pmod(col("o_orderkey"), lit(10)).as("part"))
      graft.store.TxStore.initPartitioned(base, root, "part")
      val touched = load(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(10)) === 0)
      val updates = touched
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 100000.0).as("o_totalprice"))
        .unionByName(touched.select((col("o_orderkey") + 5000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice")))
        .withColumn("part", pmod(col("o_orderkey"), lit(10)))
      graft.store.TxStore.commitUpsertPartitioned(s, root, updates,
        Seq("o_orderkey"), "part")
      graft.store.TxStore.read(s, root)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      WITH updates AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 100000.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 5000000, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0),
      base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders)
      SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
      UNION ALL SELECT * FROM updates
      ORDER BY o_orderkey"""))

  /** SCD Type-2 dimension merge ([[graft.store.Store.scd2Merge]]): the
    * customer dim takes one change batch exercising all four row
    * classes — attr change (every 10th key: close + new version),
    * no-op re-delivery (every 20th ≡ 3: identical attrs, must NOT
    * version), brand-new keys (+1,000,000), and untouched keys.
    */
  val s05 = Q("s05_scd2_merge",
    (s, dir) => {
      val cust = load(s, dir, "customer")
      val dim = cust.select(col("c_custkey"), col("c_acctbal"),
        to_date(lit("1995-01-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"),
        lit(true).as("is_current"))
      val changes = cust.filter(pmod(col("c_custkey"), lit(10)) === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("c_acctbal"))
        .unionByName(cust.filter(pmod(col("c_custkey"), lit(20)) === 3)
          .select(col("c_custkey"), col("c_acctbal")))
        .unionByName(cust.filter(pmod(col("c_custkey"), lit(50)) === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"), col("c_acctbal")))
        .withColumn("change_date", to_date(lit("2000-06-01")))
      Store.scd2Merge(dim, changes, Seq("c_custkey"), Seq("c_acctbal"))
        .orderBy(col("c_custkey"), col("valid_from"))
    },
    Some("""
      WITH dim AS (
        SELECT c_custkey, c_acctbal, DATE '1995-01-01' AS valid_from,
               CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
        FROM customer),
      changes AS (
        SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal,
               DATE '2000-06-01' AS change_date
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey, c_acctbal, DATE '2000-06-01'
        FROM customer WHERE c_custkey % 20 = 3
        UNION ALL
        SELECT c_custkey + 1000000, c_acctbal, DATE '2000-06-01'
        FROM customer WHERE c_custkey % 50 = 0),
      j AS (
        SELECT d.c_custkey AS dpk, d.c_acctbal AS dbal, d.valid_from,
               c.c_custkey AS cpk, c.c_acctbal AS cbal, c.change_date
        FROM dim d FULL OUTER JOIN changes c ON d.c_custkey = c.c_custkey),
      out AS (
        SELECT dpk AS c_custkey, dbal AS c_acctbal, valid_from,
               CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
        FROM j WHERE dpk IS NOT NULL AND (cpk IS NULL OR dbal = cbal)
        UNION ALL
        SELECT dpk, dbal, valid_from, change_date, FALSE
        FROM j WHERE dpk IS NOT NULL AND cpk IS NOT NULL AND dbal <> cbal
        UNION ALL
        SELECT cpk, cbal, change_date, CAST(NULL AS DATE), TRUE
        FROM j WHERE cpk IS NOT NULL AND (dpk IS NULL OR dbal <> cbal))
      SELECT * FROM out ORDER BY c_custkey, valid_from"""))

  /** File-level data skipping ([[graft.store.Skipping]]): orders laid
    * out range-partitioned on o_orderkey (8 files, narrow per-file key
    * ranges), then a range read that scans only the files whose footer
    * min/max intersects the range. The oracle is the plain full-scan
    * filter — skipping must be invisible in the result; the actual
    * file-prune rate is asserted in TxStoreSpec.
    */
  private[graft] def s06Build(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_skip")
      .resolve("t").toString
    val base = load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      .repartitionByRange(8, col("o_orderkey"))
    graft.store.TxStore.init(base, root)
    graft.store.TxStore.writeStats(s, root, Seq("o_orderkey"))
    root
  }

  private[graft] def s06Probe(s: org.apache.spark.sql.SparkSession, dir: String,
      root: String): org.apache.spark.sql.DataFrame =
    graft.store.TxStore.readRange(s, root, "o_orderkey",
        lit(100000L), lit(140000L))
      .withColumn("o_orderdate", col("o_orderdate").cast("date"))
      .orderBy(col("o_orderkey"))

  val s06 = Q("s06_data_skipping",
    (s, dir) => s06Probe(s, dir, s06Build(s, dir)),
    Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
      FROM orders
      WHERE o_orderkey BETWEEN 100000 AND 140000
      ORDER BY o_orderkey"""))

  /** Incremental aggregate maintenance
    * ([[graft.store.Store.mergeAggregates]]): the monthly revenue view
    * is maintained from a pre-1997 base plus a 1997+ delta — partial
    * DECIMAL aggregates merged by key. Oracle is the FULL recompute
    * over all orders: maintenance must be invisible in the result.
    */
  val s07 = Q("s07_agg_maintenance",
    (s, dir) => {
      import org.apache.spark.sql.DataFrame
      def monthly(df: DataFrame) = df
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("mes"))
        .agg(sum(T.dec(col("o_totalprice"))).as("total_dec"),
          count(lit(1)).as("n"))
      val orders = load(s, dir, "orders")
      val cut = lit("1997-01-01").cast("timestamp")
      val base = monthly(orders.filter(col("o_orderdate") < cut))
      val delta = monthly(orders.filter(col("o_orderdate") >= cut))
      graft.store.Store.mergeAggregates(base, delta,
          keys = Seq("mes"), measures = Seq("total_dec", "n"))
        .select(col("mes"), col("total_dec").cast("double").as("total"), col("n"))
        .orderBy(col("mes"))
    },
    Some("""
      SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS mes,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        COUNT(*) AS n
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** Z-order-clustered data skipping
    * ([[graft.store.Skipping.zOrdered]]): orders laid out by the
    * Morton code of (o_custkey, o_orderkey), so every file's footer
    * min/max is narrow in BOTH columns, then a range read on the
    * customer key — the layout where single-column sorting would leave
    * the second column unprunable.
    * Oracle is the plain full-scan filter; the both-dimension prune
    * rates are asserted in SkippingSpec.
    */
  private[graft] def s08Build(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val path = java.nio.file.Files.createTempDirectory("graft_zorder")
      .resolve("orders").toString
    graft.store.Skipping.zOrdered(
      load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "o_custkey", "o_orderkey", numFiles = 16).write.parquet(path)
    path
  }

  private[graft] def s08Probe(s: org.apache.spark.sql.SparkSession, dir: String,
      path: String): org.apache.spark.sql.DataFrame =
    graft.store.Skipping.readRange(s, path, "o_custkey",
        lit(100L), lit(400L))
      .orderBy(col("o_orderkey"))

  val s08 = Q("s08_zorder_skipping",
    (s, dir) => s08Probe(s, dir, s08Build(s, dir)),
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      WHERE o_custkey BETWEEN 100 AND 400
      ORDER BY o_orderkey"""))

  /** Time travel through the commit log: init v1, MERGE to v2, compact
    * to v3 — then read v1 back. Two commits later, the original
    * snapshot must be byte-identical to the raw base (versions are
    * immutable; compaction and upsert never touch them), so the oracle
    * is simply the unmodified base select. The commit-log manifests
    * (action/parent/file-count per version) are asserted in
    * TxStoreSpec.
    */
  private[graft] def s09Build(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_tt")
      .resolve("t").toString
    val base = load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    graft.store.TxStore.init(base, root)
    val updates = load(s, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(10)) === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 100000.0).as("o_totalprice"))
    graft.store.TxStore.commitUpsert(s, root, updates, Seq("o_orderkey"))
    graft.store.TxStore.commitCompaction(s, root, numFiles = 4)
    root
  }

  private[graft] def s09Probe(s: org.apache.spark.sql.SparkSession, dir: String,
      root: String): org.apache.spark.sql.DataFrame =
    graft.store.TxStore.readVersion(s, root, 1L)
      .orderBy(col("o_orderkey"))

  val s09 = Q("s09_time_travel",
    (s, dir) => s09Probe(s, dir, s09Build(s, dir)),
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_orderkey"""))

  /** Multi-format interchange: the fact slice is written as ORC
    * (zstd) and read back, and the aggregation runs over the ORC scan
    * with its filter applied AFTER the round-trip — so ORC's own
    * predicate pushdown (search-argument row pruning) carries the
    * selectivity, asserted in FormatsSpec. The result must be
    * byte-identical to the same query over the original parquet (the
    * oracle side): formats are an exchange surface, never a semantic
    * boundary. Reference exports CSV/parquet (`export.py`); ORC is the
    * third first-class columnar format a Spark estate meets.
    */
  val s10 = Q("s10_orc_interchange",
    (s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_orc")
        .resolve("lineitem_orc").toString
      load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
        .write.mode("overwrite").option("compression", "zstd").orc(out)
      s.read.orc(out)
        .filter(col("l_quantity") > 40)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM lineitem WHERE l_quantity > 40
      GROUP BY 1 ORDER BY 1"""))

  /** Change data feed across commits: init → MERGE (updates + inserts)
    * → compaction → DELETE, then ask the store what changed between v1
    * and v4 ([[graft.store.TxStore.changesBetween]] — the endpoint
    * snapshot diff on the PK). The compaction commit sits inside the
    * span deliberately: layout-only commits are data-identical and
    * must contribute NO change rows. A key updated at v2 and deleted
    * at v4 must surface as a single `delete` carrying the v1
    * pre-image — endpoint semantics, not a replay of intermediate
    * states. The oracle reconstructs the same three change classes
    * from first principles.
    */
  val s11 = Q("s11_change_data_feed",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_cdf")
        .resolve("t").toString
      val base = load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.store.TxStore.init(base, root)
      val touched = load(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(10)) === 0)
      val updates = touched
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 100000.0).as("o_totalprice"))
        .unionByName(touched.select((col("o_orderkey") + 5000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice")))
      graft.store.TxStore.commitUpsert(s, root, updates, Seq("o_orderkey"))
      graft.store.TxStore.commitCompaction(s, root, numFiles = 4)
      graft.store.TxStore.commitDelete(s, root,
        pmod(col("o_orderkey"), lit(9)) === 0)
      graft.store.TxStore.changesBetween(s, root, 1L, 4L, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      WITH ins AS (
        SELECT o_orderkey + 5000000 AS o_orderkey, o_custkey, o_totalprice,
               'insert' AS change_type
        FROM orders
        WHERE o_orderkey % 10 = 0 AND (o_orderkey + 5000000) % 9 != 0),
      upd AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 100000.0 AS o_totalprice,
               'update' AS change_type
        FROM orders
        WHERE o_orderkey % 10 = 0 AND o_orderkey % 9 != 0),
      del AS (
        SELECT o_orderkey, o_custkey, o_totalprice, 'delete' AS change_type
        FROM orders WHERE o_orderkey % 9 = 0)
      SELECT * FROM ins
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM del
      ORDER BY o_orderkey"""))

  /** Schema evolution as a commit
    * ([[graft.store.TxStore.commitUpsertEvolve]]): the update set
    * carries a column the committed table never had; surviving base
    * rows backfill NULL, and because every version directory is a
    * self-contained snapshot, the PRE-evolution version keeps its
    * original schema under time travel (asserted in TxStoreSpec — no
    * global schema registry, no reader-side merge). The oracle states
    * the merged result with an explicit NULL-filled column.
    */
  val s12 = Q("s12_schema_evolution",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_txevo")
        .resolve("t").toString
      val base = load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.store.TxStore.init(base, root)
      val updates = load(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 100000.0).as("o_totalprice"),
          col("o_orderpriority").as("priority_flag"))
      graft.store.TxStore.commitUpsertEvolve(s, root, updates, Seq("o_orderkey"))
      graft.store.TxStore.read(s, root).orderBy(col("o_orderkey"))
    },
    Some("""
      WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
      updates AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 100000.0 AS o_totalprice,
               o_orderpriority AS priority_flag
        FROM orders WHERE o_orderkey % 10 = 0)
      SELECT b.o_orderkey, b.o_custkey, b.o_totalprice,
             CAST(NULL AS VARCHAR) AS priority_flag
      FROM base b WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM updates)
      UNION ALL SELECT * FROM updates
      ORDER BY o_orderkey"""))

  private[graft] def s13Build(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_bloomskip")
      .resolve("t").toString
    // DELIBERATELY not clustered by the lookup key: hash-layout on
    // o_custkey makes every file's o_orderkey [min,max] span the whole
    // keyspace — min/max skipping prunes NOTHING here (SkippingSpec
    // asserts that), which is exactly the case the Bloom tier exists for
    val base = load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .repartition(8, col("o_custkey"))
    // declared before init, so v1's own files carry the blooms
    graft.store.TxStore.writeBloomStats(s, root, "o_orderkey")
    graft.store.TxStore.init(base, root)
    root
  }

  private[graft] def s13Probe(s: org.apache.spark.sql.SparkSession, dir: String,
      root: String): org.apache.spark.sql.DataFrame = {
    // 3 deterministic probe keys (bounded driver pull, metadata-scale)
    val keys = load(s, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(32)) === 0)
      .orderBy(col("o_orderkey")).limit(3)
      .select(col("o_orderkey")).collect().map(_.getLong(0))
    keys.map(k => graft.store.TxStore.readPoint(s, root, "o_orderkey", lit(k)))
      .reduce(_ unionByName _)
      .orderBy(col("o_orderkey"))
  }

  /** Bloom point lookups ([[graft.store.TxStore.writeBloomStats]]/
    * [[graft.store.Skipping.readPoint]] — the THIRD pruning tier, on the
    * native parquet blooms each commit writes into its own files): the
    * table is hash-laid-out on o_custkey, so every file's o_orderkey
    * interval spans the keyspace and min/max skipping is useless — the
    * row groups' blooms still route each point lookup to the one file
    * holding the key (plus rare FPs the exact filter empties). Oracle is the plain IN-list scan; the prune rate and
    * the min/max-prunes-nothing contrast are SkippingSpec territory.
    */
  val s13 = Q("s13_bloom_point_skipping",
    (s, dir) => s13Probe(s, dir, s13Build(s, dir)),
    Some("""
      WITH keys AS (
        SELECT o_orderkey FROM orders WHERE o_orderkey % 32 = 0
        ORDER BY 1 LIMIT 3)
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey IN (SELECT o_orderkey FROM keys)
      ORDER BY o_orderkey"""))

  /** Writes a private base copy + its monthly summary, registers the
    * summary with [[graft.plans.MvRewrite]], installs the rewrite rule,
    * and returns the registered base scan. Split out so the spec can
    * assert the plan-level rewrite on the same wiring s14 runs.
    */
  private[graft] def s14Setup(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import graft.plans.MvRewrite
    val tmp = java.nio.file.Files.createTempDirectory("graft_mv")
    val basePath = tmp.resolve("orders").toString
    val mvPath = tmp.resolve("orders_monthly").toString
    load(s, dir, "orders").write.mode("overwrite").parquet(basePath)
    val base = Skipping.readParquet(s, basePath)
    val key = date_trunc("month", col("o_orderdate")).cast("date")
    // the maintained summary (the s07 mergeAggregates artifact): one
    // partial per algebraic aggregate the rewrite may need
    base.groupBy(key.as("mes"))
      .agg(sum(T.dec(col("o_totalprice"))).as("total_dec"),
        count(lit(1)).as("n"),
        min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx"))
      .write.mode("overwrite").parquet(mvPath)
    MvRewrite.clear()
    MvRewrite.register("orders_monthly", base,
      keys = Seq((key, "mes")),
      measures = Seq(
        ("sum", T.dec(col("o_totalprice")), "total_dec"),
        ("count", lit(1L), "n"),
        ("min", col("o_totalprice"), "mn"),
        ("max", col("o_totalprice"), "mx")),
      mv = Skipping.readParquet(s, mvPath))
    if (!s.experimental.extraOptimizations.contains(MvRewrite.RewriteAggregateToMv))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ MvRewrite.RewriteAggregateToMv
    base
  }

  /** Materialized-view rewrite ([[graft.plans.MvRewrite]] — the
    * query-side half of s07's aggregate maintenance): the query below
    * is written against the FACT table; the optimizer proves the
    * registered monthly summary answers it and swaps the scan — a
    * full-fact aggregation becomes a read of |months| rows, the
    * workhorse acceleration for recurring rollups at 100 TB. The
    * oracle aggregates the fact table directly, so correctness here
    * IS rewrite-transparency (SUM of partial SUMs, SUM of COUNTs,
    * MIN/MAX of MIN/MAXs); MvRewriteSpec asserts the plan actually
    * scans the summary and that filters block the rewrite.
    */
  val s14 = Q("s14_mv_rewrite",
    (s, dir) => {
      val base = s14Setup(s, dir)
      base.groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("mes"))
        .agg(sum(T.dec(col("o_totalprice"))).cast("double").as("total"),
          count(lit(1)).as("n"),
          min(col("o_totalprice")).as("mn"),
          max(col("o_totalprice")).as("mx"))
        .orderBy(col("mes"))
    },
    Some("""
      SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS mes,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        COUNT(*) AS n,
        MIN(o_totalprice) AS mn,
        MAX(o_totalprice) AS mx
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** DELETE as deletion vectors (merge-on-read,
    * [[graft.store.TxStore.commitDeleteVectors]]): two successive DV
    * commits on an orders snapshot — the data files are hard-linked
    * forward untouched, only a (file, row) position sidecar is written,
    * commit cost ∝ deleted rows — then a purge commit materializes the
    * logical table into clean files. The read after each step must
    * equal a plain double-filtered scan: which physical path produced
    * the rows (mask vs rewrite) must be invisible — that invisibility
    * IS the operator's contract, and TxStoreSpec pins the physical
    * claims (links not copies, sidecar accumulation, time travel to
    * the pre-delete version).
    */
  val s15 = Q("s15_deletion_vectors",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_dv")
        .resolve("t").toString
      val base = load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.store.TxStore.init(base, root)
      graft.store.TxStore.commitDeleteVectors(s, root,
        col("o_totalprice") > 300000.0)
      graft.store.TxStore.commitDeleteVectors(s, root,
        pmod(col("o_orderkey"), lit(7)) === 0)
      graft.store.TxStore.commitPurgeDeletes(s, root)
      graft.store.TxStore.read(s, root).orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE NOT (o_totalprice > 300000.0) AND NOT (o_orderkey % 7 = 0)
      ORDER BY o_orderkey"""))

  /** HIDDEN partitioning (Iceberg's partition transforms,
    * [[graft.store.Layout]]): the table declares `bucket(8, o_custkey)`
    * once; writers never compute a partition column and the reader's
    * predicate stays on the SOURCE column — the store derives
    * `__part = transform(42)`, which Catalyst constant-folds into a
    * directory-pruning partition filter. The MERGE goes through the
    * same derivation, so only the touched bucket is rewritten (the
    * other seven ride forward as hard links). Oracle: the logical
    * result — base rows with one customer's prices bumped — as if no
    * partitioning existed, because for the user it doesn't.
    */
  val s16 = Q("s16_hidden_partitioning",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_hidden")
        .resolve("t").toString
      val base = load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.store.TxStore.initHidden(base, root,
        graft.store.Layout.Bucket("o_custkey", 8))
      val updates = load(s, dir, "orders")
        .filter(col("o_custkey") === 42L)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 100000.0).as("o_totalprice"))
      graft.store.TxStore.commitUpsertHidden(s, root, updates, Seq("o_orderkey"))
      graft.store.TxStore.readHiddenEq(s, root, lit(42L))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice + 100000.0 AS o_totalprice
      FROM orders WHERE o_custkey = 42
      ORDER BY o_orderkey"""))

  /** SHALLOW CLONE then diverge: the clone's v1 hard-links the source
    * snapshot (zero copy), a MERGE lands on the CLONE only, and the
    * read must show the clone's lineage — base rows plus the clone-side
    * updates — while the source is untouched (pristineness and
    * inode-sharing are TxStoreSpec's claims; the oracle sees the
    * logical divergence). The dev-branch workflow over production data
    * as one commit of metadata.
    */
  val s17 = Q("s17_shallow_clone",
    (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_clone")
      val src = tmp.resolve("src").toString
      val dst = tmp.resolve("dst").toString
      val base = load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.store.TxStore.init(base, src)
      graft.store.TxStore.cloneTable(s, src, dst)
      val touched = load(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 100000.0).as("o_totalprice"))
      graft.store.TxStore.commitUpsert(s, dst, touched, Seq("o_orderkey"))
      graft.store.TxStore.read(s, dst).orderBy(col("o_orderkey"))
    },
    Some("""
      WITH updates AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 100000.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0),
      base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders)
      SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
      UNION ALL SELECT * FROM updates
      ORDER BY o_orderkey"""))

  def qs: Seq[Q] = Seq(s01, s02, s03, s04, s05, s06, s07, s08, s09, s10, s11, s12, s13, s14, s15, s16, s17)
}
