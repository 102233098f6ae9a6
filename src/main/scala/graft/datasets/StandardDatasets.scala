package graft.datasets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.validate.ContractRegistry
import graft.functions.{GraftFunctions => G}
import graft.store.Skipping

/** The standard dataset catalog (reference: 14 semantic datasets at
  * `datasets/__init__.py:25-47`). Deployment shape: scheduled ingests
  * land files under `baseDir/<dataset>/`; each DatasetDef reads the
  * landed data as its primary source and falls back to a snapshot dir
  * when the landing zone is missing — the same priority-chain semantics
  * as the reference's live-source → cache fallback, with the HTTP side
  * replaced by the landing zone (out of scope for the engine).
  */
object StandardDatasets {

  private def parquetSource(spark: SparkSession, path: String): () => DataFrame =
    () => Skipping.readParquet(spark, path)

  /** Register the catalog against a landing dir; returns the names. */
  def register(spark: SparkSession, baseDir: String,
      snapshotDir: Option[String] = None): Seq[String] = {

    def sources(name: String): Seq[DatasetSource] = {
      val primary = DatasetSource(1, s"landing:$name",
        parquetSource(spark, s"$baseDir/$name"))
      val snap = snapshotDir.map(sd => DatasetSource(99, s"snapshot:$name",
        parquetSource(spark, s"$sd/$name")))
      Seq(primary) ++ snap
    }

    val defs = Seq(
      DatasetDef("preco_diario", ContractRegistry.cepeaIndicador,
        sources("preco_diario"),
        normalize = df => df
          .withColumn("produto", G.stripAccents(lower(trim(col("produto")))))
          .orderBy(col("data").desc)),
      DatasetDef("safra_graos", ContractRegistry.conabSafra,
        sources("safra_graos"),
        normalize = df => df
          .withColumn("safra", G.normalizeSafra(col("safra")))
          .withColumn("uf", upper(col("uf"))),
        dateCol = "data_publicacao"),
      DatasetDef("pam", ContractRegistry.ibgePam, sources("pam"),
        normalize = df => df
          .withColumn("produto", G.stripAccents(lower(trim(col("produto"))))),
        dateCol = "data_referencia"),
      DatasetDef("trade_mirror", ContractRegistry.tradeMirror,
        sources("trade_mirror"), dateCol = "data_referencia"),
      DatasetDef("clima_diario", ContractRegistry.inmetDaily,
        sources("clima_diario")),
      DatasetDef("focos_queimadas", ContractRegistry.queimadasFocos,
        sources("focos_queimadas")))

    defs.foreach(DatasetRegistry.register)
    defs.map(_.name)
  }
}
