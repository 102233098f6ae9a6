package graft.store

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** File skipping from the parquet files themselves — the second and
  * third pruning tiers of the fact store, after directory partitioning
  * ([[Store.writePartitioned]], [[TxStore.initPartitioned]]):
  *
  *  - '''min/max''': every parquet footer carries per-row-group min/max,
  *    so a range on a clustered column (sorted, range-partitioned or
  *    [[zOrdered]]) drops files whose intervals miss it;
  *  - '''bloom''': a point lookup on a column the layout was not
  *    clustered by probes the native parquet bloom of each row group,
  *    written by the parquet writer itself when [[bloomOptions]] are
  *    set (every [[TxStore]] commit sets them for its declared columns).
  *
  * Pruning reads footers (and blooms) on the driver with plain JVM IO —
  * no sidecar, no Spark job — and keeps every file it cannot rule out:
  * a chunk with no statistics or no bloom, a column the footer lacks, a
  * key that does not fold to a literal of the column's type. The exact
  * predicate then runs over the kept files, so results equal a full scan
  * plus filter.
  */
object Skipping {

  /** Parquet writer options that give each row group a native bloom
    * per column in `cols`. Adaptive sizing picks the smallest of eleven
    * power-of-two sizes from 1 KiB to 1 MiB that holds the group's
    * distinct values at a 5% false-positive rate. A false positive
    * costs one extra file read, while a 1% bloom (~1.2 B/key) grows a
    * table of narrow compressed rows (~5.5 B/row on the store
    * benchmark) by over a fifth; so does parquet's default ladder of
    * five sizes, whose 64 KiB floor is twice what a 40k-row file needs.
    */
  def bloomOptions(cols: Seq[String]): Map[String, String] = {
    import org.apache.parquet.hadoop.ParquetOutputFormat._
    cols.flatMap(c => Seq(s"$BLOOM_FILTER_ENABLED#$c" -> "true", s"$BLOOM_FILTER_FPP#$c" -> "0.05",
      s"$BLOOM_FILTER_CANDIDATES_NUMBER#$c" -> "11", ADAPTIVE_BLOOM_FILTER_ENABLED -> "true")).toMap
  }

  /** Morton (Z-order) interleave of the low `bits` of two non-negative
    * integer columns — the multi-dimensional clustering key behind
    * Delta's OPTIMIZE ZORDER: range-partitioning + sorting on the
    * z-value keeps every file's range NARROW IN BOTH columns at once,
    * so min/max pruning works on either predicate column, where
    * single-column sorting only ever prunes on one. Plain shift/mask
    * arithmetic — stays in whole-stage codegen.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      val abit = shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
      val bbit = shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
      abit.bitwiseOR(bbit)
    }.reduce(_ bitwiseOR _)

  /** `df` range-partitioned into `numFiles` and sorted by the Morton
    * code of two clustering columns, so each written file's min/max is
    * narrow in BOTH columns.
    */
  def zOrdered(df: DataFrame, colA: String, colB: String, numFiles: Int,
      bits: Int = 24): DataFrame = {
    val z = zValue(col(colA), col(colB), bits)
    df.repartitionByRange(numFiles, z).sortWithinPartitions(z)
  }

  /** Files whose [min,max] interval for `c` intersects [lo, hi], plus
    * the total file count (for skip-rate reporting).
    */
  def pruneFiles(spark: SparkSession, dir: String, c: String,
      lo: Column, hi: Column): (Seq[String], Long) =
    survey(spark, dir, c, lo, hi, bloom = false).files

  /** Files with a row group whose min/max and bloom both admit
    * `c` = `key`, plus the total file count.
    */
  def pruneFilesByBloom(spark: SparkSession, dir: String, c: String,
      key: Column): (Seq[String], Long) =
    survey(spark, dir, c, key, key, bloom = true).files

  /** Range read with file skipping: scan only the files that can
    * contain `c` ∈ [lo, hi], then apply the exact predicate (which
    * Catalyst additionally pushes into the surviving files' row
    * groups). Result is identical to a full scan + filter.
    */
  def readRange(spark: SparkSession, dir: String, c: String,
      lo: Column, hi: Column): DataFrame =
    survey(spark, dir, c, lo, hi, bloom = false).read(spark, dir, col(c) >= lo && col(c) <= hi)

  /** Point read with bloom file skipping: scan only files that might
    * contain `c` = key, then apply the exact predicate. Identical result
    * to a full scan + filter, I/O ∝ files that (probably) hold the key.
    */
  def readPoint(spark: SparkSession, dir: String, c: String, key: Column): DataFrame =
    survey(spark, dir, c, key, key, bloom = true).read(spark, dir, col(c) === key)

  /** `path` — a parquet file, or a directory of them with or without
    * partition directories — read with the schema in the footer of its
    * first data file in name order. Spark's own inference takes the
    * same one footer through the same function under the same session
    * flags (`nanosAsLong`, `inferTimestampNTZ`, ...), but reads it in a
    * one-task Spark job; this reads it on the driver, so building the
    * frame runs no job. Partition columns come from Spark's directory
    * discovery. A path with no readable data file is left to Spark's
    * inference, so its error stays Spark's own. `nanosAsLong` reads a
    * TIMESTAMP(NANOS) column as its raw `LongType` nanos, as under
    * `spark.sql.legacy.parquet.nanosAsLong`, without setting that conf
    * on the session: the scan takes the given schema as it is.
    */
  def readParquet(spark: SparkSession, path: String, nanosAsLong: Boolean = false): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val schema = (if (fs.exists(p)) dataFiles(fs, p).nextOption() else None).flatMap { f =>
      scala.util.Try {
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf),
          HadoopReadOptions.builder(conf).build())
        try footerSchema(spark, f, reader, nanosAsLong) finally reader.close()
      }.toOption
    }
    schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The outcome of one footer pass: the kept files, the file count and
    * the table schema of the first footer (None: no data file).
    */
  private final case class Survey(kept: Seq[String], total: Long,
      schema: Option[StructType]) {

    def files: (Seq[String], Long) = (kept, total)

    /** The kept files filtered by `pred`, read as `dir`'s table:
      * `basePath` keeps partition columns, and the footer schema spares
      * a schema-inference job, as in [[readParquet]]. With nothing kept
      * the whole directory is read under a false filter, so the schema
      * stays intact.
      */
    def read(spark: SparkSession, dir: String, pred: Column): DataFrame = {
      val r = spark.read.option("basePath", dir)
      schema.fold(r)(r.schema).parquet((if (kept.isEmpty) Seq(dir) else kept): _*)
        .filter(if (kept.isEmpty) lit(false) else pred)
    }
  }

  /** Read every data file's footer under `dir` on the driver and keep
    * the files with a row group whose chunk of `c` has min/max admitting
    * [lo, hi] and, with `bloom`, a bloom admitting `lo`. Keys are folded
    * to the chunk's physical values; a group with no chunk of `c`, a
    * chunk with no bloom and a file whose keys do not fold are kept.
    * The read options are built once from `conf`: `open` without them
    * spends ~12 ms per file loading a fresh Hadoop configuration.
    */
  private def survey(spark: SparkSession, dir: String, c: String, lo: Column, hi: Column,
      bloom: Boolean): Survey = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new HPath(dir)
    val opts = HadoopReadOptions.builder(conf).build()
    val folded = collection.mutable.HashMap.empty[(DataType, Any), Seq[Option[Any]]]
    val seen = dataFiles(p.getFileSystem(conf), p).toSeq.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf), opts)
      try {
        val schema = footerSchema(spark, f, reader)
        val keys = for {
          field <- schema.find(_.name == c)
          t <- reader.getFileMetaData.getSchema.getFields.asScala
            .find(f => f.getName == c && f.isPrimitive).map(_.asPrimitiveType.getPrimitiveTypeName)
          k = folded.getOrElseUpdate((field.dataType, t), fold(spark, Seq(lo, hi), field.dataType, t))
          if k.forall(_.isDefined)
        } yield k.flatten
        val keep = keys.forall { case Seq(l, h) => reader.getRowGroups.asScala.exists(g =>
          g.getColumns.asScala.find(_.getPath.toDotString == c).forall(chunk => inRange(chunk, l, h) &&
            (!bloom || Option(reader.readBloomFilter(chunk)).forall(b => b.findHash(b.hash(l)))))) }
        (f.getPath.toString, keep, schema)
      } finally reader.close()
    }
    Survey(seen.collect { case (f, true, _) => f }, seen.size.toLong, seen.headOption.map(_._3))
  }

  /** The chunk's min/max admits a value in [lo, hi]; a chunk with no
    * statistics admits anything.
    */
  private def inRange(chunk: ColumnChunkMetaData, lo: Any, hi: Any): Boolean = {
    val s = chunk.getStatistics
    val cmp = s.comparator().asInstanceOf[java.util.Comparator[Any]]
    !s.hasNonNullValue || (cmp.compare(s.genericGetMax, lo) >= 0 && cmp.compare(s.genericGetMin, hi) <= 0)
  }

  /** `keys` at type `to` ([[graft.ops.Bloom.keyAs]]), analyzed and
    * evaluated on the driver, as the values a parquet column of physical
    * type `t` stores. None for a key that is not a foldable expression
    * of a castable type (or is null), and for types whose stored value
    * or ordering may differ from Spark's (dates and timestamps can be
    * calendar-rebased, floats have -0.0/NaN, decimals vary in encoding).
    */
  private def fold(spark: SparkSession, keys: Seq[Column], to: DataType, t: Any): Seq[Option[Any]] =
    scala.util.Try {
      def analyzed(cs: Seq[Column]) =
        spark.range(1).select(cs.zipWithIndex.map { case (c, i) => c.as(s"k$i") }: _*)
          .queryExecution.analyzed.expressions.map(_.asInstanceOf[Alias].child)
      val es = analyzed(keys)
      val typed = if (es.forall(_.dataType == to)) es
        else analyzed(keys.zip(es).map { case (k, e) => graft.ops.Bloom.keyAs(k, e.dataType, to) })
      typed.map(e => (t, if (e.foldable) e.eval() else null, to) match {
        case (INT32, n: Number, IntegerType | ShortType | ByteType) => Some(n.intValue)
        case (INT64, n: Number, LongType) => Some(n.longValue)
        case (BINARY, s: UTF8String, StringType) => Some(Binary.fromConstantByteArray(s.getBytes))
        case _ => None
      })
    }.getOrElse(keys.map(_ => None))

  /** The data files under `p` (or `p` itself, a file) in name order,
    * listed lazily: what Spark's reader reads, partition dirs entered.
    */
  private def dataFiles(fs: FileSystem, p: HPath): Iterator[FileStatus] =
    fs.listStatus(p).filterNot { s =>
      val n = s.getPath.getName
      n.startsWith(".") || (n.startsWith("_") && !n.contains('='))
    }.sortBy(_.getPath.getName).iterator
      .flatMap(s => if (s.isDirectory) dataFiles(fs, s.getPath) else Iterator(s))

  /** The Spark schema of `f`'s footer, as Spark's inference reads it:
    * the schema Spark's writer recorded, else the parquet schema
    * converted under the session's parquet flags, with `nanosAsLong`
    * on top of them.
    */
  private def footerSchema(spark: SparkSession, f: FileStatus, reader: ParquetFileReader,
      nanosAsLong: Boolean = false): StructType = {
    val conf = spark.sessionState.conf
    val flags = if (!nanosAsLong) conf else {
      val c = conf.clone()
      c.setConf(org.apache.spark.sql.internal.SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, true)
      c
    }
    ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, reader.getFooter),
      new ParquetToSparkSchemaConverter(flags))
  }

}
