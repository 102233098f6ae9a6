package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.queries.T
import graft.store.{Layout, Skipping, TxStore}

/** Every engine parquet read takes its schema from the footer of its
  * first data file ([[Skipping.readParquet]]). The schema must be the
  * one Spark's inference gives, for files Spark wrote and files it did
  * not, and building a frame must start no Spark job, where inference
  * starts one per read.
  */
class FooterSchemaSpec extends SparkSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"

  private lazy val tables: Seq[String] = {
    val s = Files.list(Paths.get(sf))
    try s.iterator.asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).toSeq.sorted
    finally s.close()
  }

  private def assertInferredSchema(path: String): Unit = {
    val got = Skipping.readParquet(spark, path).schema
    val want = spark.read.parquet(path).schema
    assert(got == want, s"$path: footer schema ${got.treeString} != inferred ${want.treeString}")
  }

  private def withConf[A](k: String, v: String)(body: => A): A = {
    val before = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally before.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** A parquet file written by parquet-mr itself (no Spark schema in the
    * footer): `event_id` int64 and `ts` int64 under `tsAnnotation`.
    */
  private def writeForeign(path: Path, tsAnnotation: String, ts: Long => Long): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; required int64 ts ($tsAnnotation); }")
    val w = ExampleParquetWriter.builder(new HPath(path.toString)).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try (1L to 3L).foreach(i => w.write(rows.newGroup().append("event_id", i).append("ts", ts(i))))
    finally w.close()
  }

  private def freshDir(prefix: String): Path = Files.createTempDirectory(prefix)

  test("the footer schema is Spark's inferred schema for every sf0.01 table") {
    assert(tables.size >= 10, s"tables under $sf: $tables")
    tables.foreach(t => assertInferredSchema(s"$sf/$t.parquet"))
  }

  test("a path with no data file fails as Spark's own read does") {
    val empty = freshDir("graft_footer_empty")
    for (p <- Seq(empty.toString, empty.resolve("missing").toString)) {
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](Skipping.readParquet(spark, p))
      assert(got.getClass == want.getClass && got.getMessage == want.getMessage, got)
    }
  }

  test("the footer schema follows Spark's inference for both events ts layouts") {
    val base = T.load(spark, sf, "events").orderBy($"event_id").limit(200)
    val dir = freshDir("graft_footer_events")
    // EventsLayoutSpec's Spark-written layouts: µs NTZ, and nanos as longs
    base.write.parquet(s"$dir/us/events.parquet")
    base.withColumn("ts", T.epochUs($"ts") * 1000L).write.parquet(s"$dir/nanos/events.parquet")
    Seq("us", "nanos").foreach(l => assertInferredSchema(s"$dir/$l/events.parquet"))
    // the layouts as other writers ship them: TIMESTAMP(NANOS), naive µs
    Files.createDirectories(dir.resolve("foreign-nanos"))
    Files.createDirectories(dir.resolve("foreign-us"))
    writeForeign(dir.resolve("foreign-nanos/events.parquet"), "TIMESTAMP(NANOS,false)", _ * 1000000000L)
    writeForeign(dir.resolve("foreign-us/events.parquet"), "TIMESTAMP(MICROS,false)", _ * 1000000L)
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      assertInferredSchema(s"$dir/foreign-nanos/events.parquet")
      assert(Skipping.readParquet(spark, s"$dir/foreign-nanos/events.parquet").schema("ts").dataType == LongType)
      val loaded = T.load(spark, s"$dir/foreign-nanos", "events")
      assert(loaded.schema("ts").dataType == TimestampNTZType)
      assert(loaded.orderBy("event_id").select(T.epochUs($"ts")).as[Long].collect().toSeq ==
        Seq(1000000L, 2000000L, 3000000L))
    }
    for ((ntz, want) <- Seq("true" -> TimestampNTZType, "false" -> TimestampType))
      withConf("spark.sql.parquet.inferTimestampNTZ.enabled", ntz) {
        assertInferredSchema(s"$dir/foreign-us/events.parquet")
        assert(Skipping.readParquet(spark, s"$dir/foreign-us/events.parquet").schema("ts").dataType == want)
      }
  }

  test("T.load reads foreign TIMESTAMP(NANOS) events without changing the session's conf") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val dir = freshDir("graft_footer_nanos")
    writeForeign(dir.resolve("events.parquet"), "TIMESTAMP(NANOS,false)", _ * 1000000000L)
    val before = spark.conf.getOption(key)
    assert(!before.contains("true"), s"an earlier case left $key=$before on the session")
    val loaded = T.load(spark, dir.toString, "events")
    assert(loaded.schema("ts").dataType == TimestampNTZType)
    assert(loaded.orderBy("event_id").select(T.epochUs($"ts")).as[Long].collect().toSeq ==
      Seq(1000000L, 2000000L, 3000000L))
    // the raw nanos reach the scan as longs, a pushed filter included,
    // in the vectorized and the row reader
    for (vectorized <- Seq("true", "false"))
      withConf("spark.sql.parquet.enableVectorizedReader", vectorized) {
        val raw = T.loadEventsRaw(spark, dir.toString).filter($"ts" > 1500000000L)
        assert(raw.queryExecution.executedPlan.toString.contains("PushedFilters: [IsNotNull(ts), GreaterThan(ts,"))
        assert(raw.select("event_id").as[Long].collect().toSet == Set(2L, 3L))
      }
    assert(spark.conf.getOption(key) == before)
  }

  /** TxStore tables in each state a version directory can be in. */
  private lazy val stores: Map[String, String] = {
    val dir = freshDir("graft_footer_stores")
    def root(name: String) = dir.resolve(name).toString
    val base = Seq((1L, Option("soja"), 100.0), (2L, Option("milho"), 50.0), (3L, None, 7.0))
      .toDF("k", "produto", "v")
    val plain = root("plain")
    TxStore.init(base, plain)
    TxStore.commitUpsert(spark, plain, Seq((2L, Option("milho"), 75.0)).toDF("k", "produto", "v"), Seq("k"))
    val partitioned = root("partitioned")
    TxStore.initPartitioned(base, partitioned, "produto")
    val hidden = root("hidden")
    TxStore.initHidden(base, hidden, Layout.Bucket("k", 4))
    val evolved = root("evolved")
    TxStore.init(base, evolved)
    TxStore.commitUpsertEvolve(spark, evolved,
      Seq((4L, "trigo", 1.0, "sc")).toDF("k", "produto", "v", "uf"), Seq("k"))
    // non-null batch columns beside the table's nullable ones
    val appended = root("appended")
    TxStore.init(base, appended)
    TxStore.commitAppend(spark, appended, Seq((5L, "cafe", 2.0)).toDF("k", "produto", "v"))
    val dv = root("dv")
    TxStore.init(base.repartition(2), dv)
    TxStore.commitDeleteVectors(spark, dv, col("k") === 1L)
    Map("plain" -> plain, "partitioned" -> partitioned, "hidden" -> hidden,
      "evolved" -> evolved, "appended" -> appended, "dv" -> dv)
  }

  test("the footer schema is Spark's inferred schema for every TxStore version layout") {
    for ((_, root) <- stores; v <- 1L to TxStore.currentVersion(root).get)
      assertInferredSchema(TxStore.versionDir(root, v))
    assert(TxStore.read(spark, stores("evolved")).columns.toSeq == Seq("k", "produto", "v", "uf"))
    assert(TxStore.read(spark, stores("appended")).count() == 4)
    assert(TxStore.read(spark, stores("dv")).select("k").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("building T.load and TxStore read frames starts no Spark job") {
    val builds: Seq[(String, () => DataFrame)] =
      tables.map(t => s"T.load($t)" -> (() => T.load(spark, sf, t))) ++ Seq(
        "read" -> (() => TxStore.read(spark, stores("plain"))),
        "readVersion" -> (() => TxStore.readVersion(spark, stores("plain"), 1L)),
        "changesBetween" -> (() => TxStore.changesBetween(spark, stores("plain"), 1L, 2L, Seq("k"))),
        "readHidden" -> (() => TxStore.readHidden(spark, stores("hidden"))),
        "read of a partitioned table" -> (() => TxStore.read(spark, stores("partitioned"))),
        "read of a deletion-vector table" -> (() => TxStore.read(spark, stores("dv"))))
    assert(stores.size == 6) // the tables are built outside the measured calls
    for ((name, build) <- builds) {
      val (df, jobs) = jobsStartedBy(build())
      assert(jobs.isEmpty, s"$name started Spark jobs while its frame was built: $jobs")
      assert(df.columns.nonEmpty)
    }
    assert(TxStore.changesBetween(spark, stores("plain"), 1L, 2L, Seq("k"))
      .select("k", "change_type").as[(Long, String)].collect().toSeq == Seq((2L, "update")))
  }

  test("a parquet read in src/main goes through Skipping.readParquet") {
    // `spark.read`, any options, then `.parquet(`: a read that infers
    val inferring = """\.read(\s*\.\s*options?\((?:[^()]|\([^()]*\))*\))*\s*\.\s*parquet\(""".r
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    val sites = try files.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString.replace('\\', '/') ->
        inferring.findAllMatchIn(Files.readString(p)).size)
      .filter(_._2 > 0).toMap
    finally files.close()
    assert(sites == Map("graft/store/Skipping.scala" -> 1))
  }
}
