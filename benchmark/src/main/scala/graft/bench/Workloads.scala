package graft.bench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

import graft.{BenchPhases, SparkEntry}
import graft.queries.T
import graft.store.TxStore

/** A seeded closed-loop workload. `prepare` is the set-up a user pays
  * before the first operation and is timed; `afterSetup` builds the
  * benchmark's own bookkeeping and is not.
  */
trait Workload {
  def prepare(spark: SparkSession, attempt: Int): Unit
  def afterSetup(spark: SparkSession): Unit = ()
  /** Drops the benchmark's own bookkeeping before the heap is measured. */
  def release(): Unit = ()
  def pass(spark: SparkSession, n: Int): Seq[Op]
  /** Registry queries whose results go to the DuckDB oracle check. */
  def oracleQueries: Seq[String]
  /** Checks of final state, run after the timed passes and before
    * `release`.
    */
  def finalChecks(spark: SparkSession): Seq[(String, Option[String])] = Nil
  /** Sizes of the files a write operation may touch (path -> bytes). */
  def files(): Map[String, Long] = Map.empty
  /** Workload-specific figures reported once at the end, after `release`. */
  def extras(spark: SparkSession, runDir: String): Map[String, Any] = Map.empty
}

object Workloads {
  /** The corpus workload's pass. The 93 rows of families d, t, m and a
    * take far longer than a run may, so a pass is a fixed subset of
    * eleven rows of 0.3-1.2 s each (warm, sf0.1, 4 cores): exact dedup's
    * shuffle (d01), the kNN graph's top-k and exact batch ANN (a30, a07),
    * model scoring and calibration (a22, a27), stratified sampling, token
    * percentiles and document chunking (t07, t04, t15), and three media
    * rows (m01, m04, m06).
    * Eleven rows over two measured passes give 22 latency samples, enough
    * for a rank above the median under `stats.percentile`.
    */
  val corpusQueries: Seq[String] = Seq("d01_exact_dedup", "a30_knn_graph",
    "a07_ann_batch_exact", "a22_model_scoring", "a27_model_calibration",
    "t07_stratified_sample", "t04_token_percentiles", "m01_multimodal_features",
    "m04_payload_chunking", "m06_media_dims", "t15_doc_chunking")

  /** Registry queries the store workload runs every pass. */
  val storeQueries: Seq[String] = Seq("s09_time_travel")

  def apply(name: String, seed: Long, dir: String, runDir: String): Workload = name match {
    case "corpus" => new QueryWorkload(corpusQueries, dir)
    case "store" => new StoreWorkload(seed, dir, runDir)
  }

  /** Runs a registry query as one operation. */
  def queryOp(name: String, dir: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(name, name.take(1), "query", ctx => {
      val df = ctx.span("queries.build")(fn(ctx.spark, dir))
      ctx.materialize(df)
    })
  }
}

/** Registry queries, the same ones in the same order every pass: the
  * seed reaches them through the substrate. Order matters here (the
  * first query of a session pays for everything cold, and queries share
  * cached plans), so a fixed order keeps runs comparable.
  */
final class QueryWorkload(names: Seq[String], dir: String) extends Workload {
  def prepare(spark: SparkSession, attempt: Int): Unit = ()

  def pass(spark: SparkSession, n: Int): Seq[Op] = names.map(Workloads.queryOp(_, dir))

  def oracleQueries: Seq[String] = names.filter(SparkEntry.oracleSql.contains)
}

/** Writes beside reads on one TxStore table, checked against an
  * in-memory last-writer-wins model. The table has the shape of s09's:
  * the substrate's `orders` (150k rows at sf0.1) projected to key,
  * customer and price. The upsert's size follows recorded traffic: it
  * carries 10,000 rows, the batch BASELINE.md times for the reference's
  * store, split into updates and fresh keys as s01 and s03 do (each
  * touched order gets a new price and a new row). A delete removes as
  * many keys as the upsert inserts, so the table keeps its size from
  * pass to pass. The `s` queries build and probe tables of their own.
  *
  * A pass commits an upsert and a delete, writes the min/max and Bloom
  * sidecars for the new version, runs the reads and the `s` queries in
  * a seeded order, then compacts, expires all but the last three
  * versions and vacuums. Each operation draws its inputs from the model
  * before its clock starts and advances the model in its check, after
  * the clock stops.
  */
final class StoreWorkload(seed: Long, dir: String, runDir: String) extends Workload {
  private val table = "orders"
  private val pk = "o_orderkey"
  private val columns = Seq(pk, "o_custkey", "o_totalprice")
  private val statsCols = Seq(pk, "o_totalprice")
  private val keepLast = 3
  private val upsertUpdates = 5000
  private val upsertInserts = 5000
  private val deleteKeys = upsertInserts
  private val rangeWidth = 400L

  private var root: String = _
  private var schema: StructType = _
  /** Retained versions of the table, as the model expects them. */
  private val versions = mutable.TreeMap.empty[Long, Map[Long, Row]]
  private var current = 0L
  /** Live keys in a sampling-friendly layout (swap-remove). */
  private val live = mutable.ArrayBuffer.empty[Long]
  private val livePos = mutable.HashMap.empty[Long, Int]
  private var nextKey = 0L
  /** Probe thunks of phased `s` queries, from this pass's build ops. */
  private val probes = mutable.Map.empty[String, () => DataFrame]
  /** Data files the last point read scanned, and the version's total. */
  var lastPointFiles: (Int, Int) = (0, 0)

  private def base(spark: SparkSession): DataFrame =
    T.load(spark, dir, table).select(columns.map(col): _*)

  def prepare(spark: SparkSession, attempt: Int): Unit = {
    root = s"$runDir/store/$table-$attempt"
    TxStore.init(base(spark), root)
  }

  override def afterSetup(spark: SparkSession): Unit = {
    schema = TxStore.read(spark, root).schema
    val rows = base(spark).collect()
    versions(1L) = rows.map(r => r.getLong(0) -> r).toMap
    current = 1L
    rows.foreach(r => addLive(r.getLong(0)))
    nextKey = live.max + 1
  }

  override def release(): Unit = {
    versions.clear()
    live.clear()
    livePos.clear()
    probes.clear()
  }

  private def addLive(k: Long): Unit = if (!livePos.contains(k)) {
    livePos(k) = live.size
    live += k
  }

  private def removeLive(k: Long): Unit = livePos.remove(k).foreach { i =>
    val last = live.remove(live.size - 1)
    if (last != k) { live(i) = last; livePos(last) = i }
  }

  private def pickLive(rnd: Random, n: Int): Seq[Long] = {
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < n) picked += live(rnd.nextInt(live.size))
    picked.toSeq
  }

  private def commit(v: Long, state: Map[Long, Row]): Unit = {
    versions(v) = state
    current = v
  }

  private def expectVersion(got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"committed v$got, expected v$want")

  private def expectRows(got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$got rows, model has $want")

  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  private def diffCount(a: Map[Long, Row], b: Map[Long, Row]): Long =
    b.count { case (k, r) => !a.get(k).contains(r) } + a.keysIterator.count(!b.contains(_))

  /** A store call, checked against the model instead of against the
    * row count of the first pass.
    */
  private def op(name: String, kind: String)(before: () => Unit)(body: Ctx => Long,
      check: Long => Option[String] = _ => None): Op =
    Op(name, "s", kind, body, check, sameEachPass = false, before = before)

  def pass(spark: SparkSession, n: Int): Seq[Op] = {
    val rnd = new Random(seed * 7919L + n)
    var version = 0L
    var expected = 0L

    var batch = Seq.empty[Row]
    val upsert = op("commitUpsert", "write") { () =>
      val state = versions(current)
      val updates = pickLive(rnd, upsertUpdates).map { k =>
        val r = state(k)
        Row(k, r.getLong(1), cents(r.getDouble(2) + 0.01 * (1 + rnd.nextInt(100000))))
      }
      val inserts = (0 until upsertInserts).map { i =>
        Row(nextKey + i, state(live(rnd.nextInt(live.size))).getLong(1),
          cents(rnd.nextInt(50000000) / 100.0))
      }
      batch = updates ++ inserts
      expected = current + 1
    }(ctx => {
      val df = spark.createDataFrame(batch.asJava, schema)
      version = ctx.span("store.commitUpsert")(TxStore.commitUpsert(spark, root, df, Seq(pk)))
      batch.size.toLong
    }, _ => expectVersion(version, expected).orElse {
      commit(version, versions(current) ++ batch.map(r => r.getLong(0) -> r))
      batch.foreach(r => addLive(r.getLong(0)))
      nextKey += upsertInserts
      None
    })

    var keys = Seq.empty[Long]
    val delete = op("commitDelete", "write") { () =>
      keys = pickLive(rnd, deleteKeys)
      expected = current + 1
    }(ctx => {
      version = ctx.span("store.commitDelete")(
        TxStore.commitDelete(spark, root, col(pk).isin(keys: _*)))
      keys.size.toLong
    }, _ => expectVersion(version, expected).orElse {
      commit(version, versions(current) -- keys)
      keys.foreach(removeLive)
      None
    })

    val stats = op("writeStats", "write")(() => ())(ctx => {
      ctx.span("store.writeStats")(TxStore.writeStats(spark, root, statsCols))
      0L
    })

    val bloom = op("writeBloomStats", "write")(() => ())(ctx => {
      ctx.span("store.writeBloomStats")(TxStore.writeBloomStats(spark, root, pk))
      0L
    })

    val read = op("read", "read") { () =>
      expected = versions(current).size
    }(ctx => ctx.materialize(ctx.span("store.read")(TxStore.read(spark, root))),
      got => expectRows(got, expected))

    var point = 0L
    val readPoint = op("readPoint", "read") { () =>
      point = live(rnd.nextInt(live.size))
      expected = 1L
    }(ctx => {
      val df = ctx.span("store.readPoint")(TxStore.readPoint(spark, root, pk, lit(point)))
      val rows = ctx.materialize(df)
      if (ctx.tracer.enabled) lastPointFiles = (df.inputFiles.length, dataFiles(current))
      rows
    }, got => expectRows(got, expected))

    var lo = 0L
    val range = op("readRange", "read") { () =>
      lo = live(rnd.nextInt(live.size))
      expected = live.count(k => k >= lo && k <= lo + rangeWidth).toLong
    }(ctx => ctx.materialize(ctx.span("store.readRange")(
      TxStore.readRange(spark, root, pk, lit(lo), lit(lo + rangeWidth)))),
      got => expectRows(got, expected))

    var past = 0L
    val travel = op("readVersion", "read") { () =>
      past = current - 1 - rnd.nextInt(2)
      expected = versions(past).size
    }(ctx => ctx.materialize(ctx.span("store.readVersion")(TxStore.readVersion(spark, root, past))),
      got => expectRows(got, expected))

    var from = 0L
    val changes = op("changesBetween", "read") { () =>
      from = current - 2
      expected = diffCount(versions(from), versions(current))
    }(ctx => ctx.materialize(ctx.span("store.changesBetween")(
      TxStore.changesBetween(spark, root, from, current, Seq(pk)))),
      got => expectRows(got, expected))

    val (phased, plain) = Workloads.storeQueries.partition(BenchPhases.phased.contains)
    val builds = phased.map(q => Op(s"$q.build", "s", "write", ctx => {
      probes(q) = ctx.span("queries.build")(BenchPhases.phased(q)(spark, dir))
      0L
    }))
    val probeOps = phased.map(q => Op(s"$q.probe", "s", "read", ctx => {
      val df = ctx.span("queries.build")(probes(q)())
      ctx.materialize(df)
    }))

    val compact = op("commitCompaction", "maint") { () =>
      expected = current + 1
    }(ctx => {
      version = ctx.span("store.commitCompaction")(TxStore.commitCompaction(spark, root, 4))
      0L
    }, _ => expectVersion(version, expected).orElse {
      commit(version, versions(current))
      None
    })

    var expired = Seq.empty[Long]
    var expectedExpired = Seq.empty[Long]
    val expire = op("expireVersions", "maint") { () =>
      expectedExpired = versions.keys.filter(_ <= current - keepLast).toSeq
    }(ctx => {
      expired = ctx.span("store.expireVersions")(TxStore.expireVersions(root, keepLast))
      expired.size.toLong
    }, _ => {
      expectedExpired.foreach(versions.remove)
      if (expired == expectedExpired) None
      else Some(s"expired ${expired.mkString(",")}, expected ${expectedExpired.mkString(",")}")
    })

    var vacuumed = Seq.empty[Long]
    val vacuum = op("vacuum", "maint")(() => ())(ctx => {
      vacuumed = ctx.span("store.vacuum")(TxStore.vacuum(root))
      vacuumed.size.toLong
    }, _ => if (vacuumed.isEmpty) None else Some(s"vacuum removed committed-looking v${vacuumed.mkString(",")}"))

    val reads = rnd.shuffle(Seq(read, readPoint, range, travel, changes) ++ probeOps ++
      plain.map(Workloads.queryOp(_, dir)))
    Seq(upsert, delete, stats, bloom) ++ builds ++ reads ++ Seq(compact, expire, vacuum)
  }

  def oracleQueries: Seq[String] = Workloads.storeQueries.filter(SparkEntry.oracleSql.contains)

  private def dataFiles(v: Long): Int = {
    val s = Files.list(Paths.get(TxStore.versionDir(root, v)))
    try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  /** The final state and every retained version, row for row. */
  override def finalChecks(spark: SparkSession): Seq[(String, Option[String])] = {
    def same(df: DataFrame, want: Map[Long, Row]): Option[String] = {
      val got = df.select(schema.fieldNames.map(col): _*).collect()
      val gotMap = got.map(r => r.getLong(0) -> r).toMap
      if (got.length != want.size) Some(s"${got.length} rows, model has ${want.size}")
      else want.collectFirst { case (k, r) if !gotMap.get(k).contains(r) =>
        s"key $k: table has ${gotMap.get(k).orNull}, model has $r" }
    }
    val fin = "store.final_state" -> same(TxStore.read(spark, root), versions(current))
    val travel = versions.keys.filter(_ < current).toSeq.map { v =>
      s"store.time_travel.v$v" -> same(TxStore.readVersion(spark, root, v), versions(v))
    }
    fin +: travel
  }

  override def files(): Map[String, Long] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  override def extras(spark: SparkSession, runDir: String): Map[String, Any] = {
    val fresh = s"$runDir/store/fresh"
    TxStore.read(spark, root).write.parquet(fresh)
    val freshBytes = bytesUnder(Paths.get(fresh), _.getFileName.toString.endsWith(".parquet"))
    val versionsLive = {
      val s = Files.list(Paths.get(root, "_versions"))
      try s.iterator().asScala.count(_.getFileName.toString.startsWith("v")) finally s.close()
    }
    Map(
      "table_bytes" -> bytesUnder(Paths.get(root), _ => true),
      "fresh_bytes" -> freshBytes,
      "versions_live" -> versionsLive)
  }

  private def bytesUnder(p: Path, keep: Path => Boolean): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(f => Files.isRegularFile(f) && keep(f)).map(Files.size).sum
    finally s.close()
  }
}
