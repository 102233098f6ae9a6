package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hidden partitioning — Iceberg's partition-transform idea on the
  * TxStore layout: the table declares a TRANSFORM of a source column
  * (`bucket(n, col)`, `days(col)`, `identity(col)`), the store derives
  * the physical partition value on every write, and point/range reads
  * on the SOURCE column prune partitions without the user ever naming
  * (or even knowing) the partition scheme. This is the difference from
  * plain `partitionBy`: the query predicate stays on the data column
  * (`o_custkey = 42`), and the derived `__part = transform(42)`
  * equality is added by the store — constant-folded by Catalyst into a
  * directory-pruning partition filter.
  *
  * The transform spec is persisted at `_layout.json` next to the
  * commit log, so every writer derives the identical partition values
  * for the life of the table (partition-scheme changes are
  * [[TxStore.commitRepartition]]-style rewrite commits).
  */
object Layout {

  val PartCol = "__part"

  sealed trait Transform {
    def col: String

    /** The derived partition value for a source-column expression —
      * applied to the data column on writes and to the probe literal
      * on reads (where Catalyst constant-folds it to a pruning
      * literal).
      */
    def apply(c: Column): Column
    def json: String
  }

  /** Hash bucketing: `pmod(xxhash64(col), n)` — xxhash64 is
    * type-sensitive, so probe literals must match the column type
    * exactly (the readers take a Column for that reason).
    */
  final case class Bucket(col: String, n: Int) extends Transform {
    def apply(c: Column): Column = pmod(xxhash64(c), lit(n.toLong))
    def json: String = s"""{"kind":"bucket","col":"$col","n":$n}"""
  }

  /** Day granularity: `yyyy-MM-dd` strings, so lexicographic partition
    * comparison IS chronological comparison and range reads prune with
    * BETWEEN on the derived value.
    *
    * TIMEZONE CONTRACT: the source column must be a tz-FREE type
    * (`date`, `timestamp_ntz`, or a date string) — enforced at
    * [[TxStore.initHidden]]. For those types `date_format` is a pure
    * function of the stored wall-clock value, so every writer and
    * reader derives the identical partition string whatever its
    * `spark.sql.session.timeZone`. A session-tz-aware `timestamp`
    * column is REJECTED: its rendered day depends on the session
    * timezone, so a table written under one tz and probed under
    * another would prune directories that contain matching rows
    * (silently wrong results) — the same reason Iceberg's `days`
    * transform is defined over UTC. Callers with an instant column
    * convert explicitly (`cast(ts as timestamp_ntz)` under a pinned
    * tz) so the day boundary is a visible, recorded choice.
    */
  final case class Days(col: String) extends Transform {
    def apply(c: Column): Column = date_format(c, "yyyy-MM-dd")
    def json: String = s"""{"kind":"days","col":"$col"}"""
  }

  final case class Identity(col: String) extends Transform {
    def apply(c: Column): Column = c
    def json: String = s"""{"kind":"identity","col":"$col"}"""
  }

  private def path(root: String) = Paths.get(root, "_layout.json")

  /** The spec file is hand-rolled JSON on both sides ([[read]] splits
    * on `"key":`), so a column name containing JSON-special characters
    * would corrupt it silently. Rejected at write time — identifier
    * characters only, which every real column name satisfies.
    */
  private[store] def safeCol(col: String): Boolean =
    col.nonEmpty && col.forall(ch => ch.isLetterOrDigit || ch == '_' || ch == '.' || ch == '-')

  private[store] def requireSafeCol(col: String): Unit =
    require(safeCol(col), s"column name must be letters, digits, '_', '.' or '-' (got: '$col')")

  def write(root: String, t: Transform): Unit = {
    requireSafeCol(t.col)
    Files.createDirectories(Paths.get(root))
    TxStore.writeAtomic(path(root), t.json + "\n")
  }

  def read(root: String): Transform = {
    require(Files.exists(path(root)), s"no _layout.json at $root")
    val s = Files.readString(path(root))
    def field(k: String): String =
      s.split(s""""$k":"?""", 2)(1).takeWhile(c => c != '"' && c != ',' && c != '}')
    field("kind") match {
      case "bucket"   => Bucket(field("col"), field("n").toInt)
      case "days"     => Days(field("col"))
      case "identity" => Identity(field("col"))
      case other      => throw new IllegalStateException(s"unknown transform: $other")
    }
  }
}
