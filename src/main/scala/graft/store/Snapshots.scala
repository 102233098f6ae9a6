package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** S10 — snapshot create/load with a manifest (reference
  * `snapshots.py:105-254`): one parquet dataset per (snapshot, source,
  * dataset) plus a `manifest.json` naming what was captured. Reads back
  * by name; the as-of filter (P4, q19) layers on top for deterministic
  * replays. Writes are plain partition-scoped parquet — at deployment
  * scale the same layout is a Delta/Iceberg table and `VERSION AS OF`
  * replaces directory naming.
  */
object Snapshots {

  final case class ManifestEntry(source: String, dataset: String, rows: Long)

  def create(spark: SparkSession, baseDir: String, name: String,
      datasets: Map[String, DataFrame]): Seq[ManifestEntry] = {
    val dir = Paths.get(baseDir, name)
    if (Files.exists(dir))
      throw new IllegalArgumentException(s"Snapshot '$name' already exists")
    Files.createDirectories(dir)
    val entries = datasets.toSeq.sortBy(_._1).map { case (key, df) =>
      val Array(source, dataset) = key.split("/", 2)
      val n = df.count()
      df.write.mode(SaveMode.ErrorIfExists)
        .parquet(dir.resolve(source).resolve(dataset).toString)
      ManifestEntry(source, dataset, n)
    }
    val json = entries.map(e =>
      s"""{"source": "${e.source}", "dataset": "${e.dataset}", "rows": ${e.rows}}""")
      .mkString(s"""{"name": "$name", "entries": [""", ", ", "]}")
    Files.writeString(dir.resolve("manifest.json"), json)
    entries
  }

  def list(baseDir: String): Seq[String] = {
    val p = Paths.get(baseDir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.filter(Files.isDirectory(_)).map[String](_.getFileName.toString)
        .sorted().toArray.toSeq.map(_.toString)
      finally s.close()
    }
  }

  def load(spark: SparkSession, baseDir: String, name: String,
      source: String, dataset: String): DataFrame =
    Skipping.readParquet(spark, Paths.get(baseDir, name, source, dataset).toString)

  def manifest(baseDir: String, name: String): String =
    Files.readString(Paths.get(baseDir, name, "manifest.json"))

  final case class SnapshotInfo(name: String, sizeBytes: Long,
      fileCount: Long, sources: Seq[String])

  /** Size/file/source facts for `snapshot list` (reference
    * `snapshots.py` SnapshotInfo: name, size_mb, sources, files).
    */
  def info(baseDir: String, name: String): SnapshotInfo = {
    val root = Paths.get(baseDir, name)
    val s = Files.walk(root)
    val (bytes, files) =
      try {
        val fs = s.filter(Files.isRegularFile(_)).toArray.toSeq
          .map(_.asInstanceOf[java.nio.file.Path])
        (fs.map(Files.size).sum, fs.size.toLong)
      } finally s.close()
    val d = Files.list(root)
    val sources =
      try d.filter(Files.isDirectory(_)).map[String](_.getFileName.toString)
        .sorted().toArray.toSeq.map(_.toString)
      finally d.close()
    SnapshotInfo(name, bytes, files, sources)
  }

  /** Deletes a snapshot — refuses anything that is not a snapshot
    * directory (must carry a manifest), so a mistyped base dir can
    * never recursively remove arbitrary data.
    */
  def delete(baseDir: String, name: String): Boolean = {
    val root = Paths.get(baseDir, name)
    if (!Files.exists(root.resolve("manifest.json"))) false
    else {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(Files.delete(_))
      finally s.close()
      true
    }
  }
}
