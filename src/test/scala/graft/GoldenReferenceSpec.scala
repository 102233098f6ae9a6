package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions => G}
import graft.ingest.Ingest
import graft.dims.Dims

/** Fidelity against the REFERENCE'S OWN golden corpus
  * (`/root/reference/tests/golden_data/`, read-only): run this engine's
  * pipelines over the reference's captured inputs and assert the
  * reference's `expected.json` values — count, first/last rows. This is
  * the "matches the reference's results on its own test queries" check,
  * executed directly.
  */
class GoldenReferenceSpec extends SparkSuite {
  import spark.implicits._

  private val goldenDir = "/root/reference/tests/golden_data"

  private def available(path: String): Boolean =
    Files.exists(Paths.get(path))

  test("cepea/soja_sample: HTML -> indicador series matches expected.json") {
    val dir = s"$goldenDir/cepea/soja_sample"
    assume(available(s"$dir/response.html"))
    val html = Files.readString(Paths.get(s"$dir/response.html"))
    val table = Ingest.bestTable(Ingest.htmlTables(html), "indicador",
      Seq("data", "valor")).get
    val df = table.rows.tail.map(r => (r(0), r(1), r(2)))
      .toDF("data_s", "valor_s", "var_s")
      .select(
        G.parseDateMulti(col("data_s")).as("data"),
        G.parseBrDecimal(col("valor_s")).as("valor"),
        lit("BRL/sc60kg").as("unidade"),
        G.parseBrDecimal(col("var_s")).as("variacao_percentual"))
    val rows = df.collect()
    // expected.json: count=22, first=(2024-01-31, 124.58), last=(2024-01-02, 123.48)
    assert(rows.length == 22)
    assert(rows.head.getAs[java.sql.Date]("data").toString == "2024-01-31")
    assert(rows.head.getAs[java.math.BigDecimal]("valor")
      .compareTo(new java.math.BigDecimal("124.58")) == 0)
    assert(rows.head.getAs[String]("unidade") == "BRL/sc60kg")
    assert(rows.last.getAs[java.sql.Date]("data").toString == "2024-01-02")
    assert(rows.last.getAs[java.math.BigDecimal]("valor")
      .compareTo(new java.math.BigDecimal("123.48")) == 0)
    assert(rows.forall(!_.isNullAt(0)) && rows.forall(!_.isNullAt(1)))
  }

  test("comexstat/exportacao_soja_sample: CSV scan matches expected.json") {
    val dir = s"$goldenDir/comexstat/exportacao_soja_sample"
    assume(available(s"$dir/response.csv"))
    val renames = Seq(
      "CO_ANO" -> "ano", "CO_MES" -> "mes", "CO_NCM" -> "ncm",
      "CO_UNID" -> "cod_unidade", "CO_PAIS" -> "cod_pais",
      "SG_UF_NCM" -> "uf", "CO_VIA" -> "cod_via", "CO_URF" -> "cod_porto",
      "QT_ESTAT" -> "qtd_estatistica", "KG_LIQUIDO" -> "kg_liquido",
      "VL_FOB" -> "valor_fob_usd")
    val raw = Ingest.csvScanBr(spark, s"$dir/response.csv", encoding = "UTF-8")
    val df = renames.foldLeft(raw) { case (d, (from, to)) =>
      d.withColumnRenamed(from, to) }
      .withColumn("ncm", lpad(col("ncm"), 8, "0"))
      .withColumn("ano", col("ano").cast("int"))
      .withColumn("mes", col("mes").cast("int"))
      .withColumn("kg_liquido", col("kg_liquido").cast("double"))
      .withColumn("valor_fob_usd", col("valor_fob_usd").cast("double"))
      .withColumn("uf", upper(trim(col("uf"))))
      .orderBy("ano", "mes", "ncm", "uf")
    val rows = df.collect()
    // expected.json: count=20, first uf=BA, last uf=TO, ncm 12019000
    assert(rows.length == 20)
    assert(rows.head.getAs[String]("uf") == "BA")
    assert(rows.head.getAs[Int]("ano") == 2024 && rows.head.getAs[Int]("mes") == 1)
    assert(rows.head.getAs[String]("ncm") == "12019000")
    assert(rows.last.getAs[String]("uf") == "TO")
  }

  test("b3/ajustes_sample: positional carry-forward over the real page") {
    val dir = s"$goldenDir/b3/ajustes_sample"
    assume(available(s"$dir/response.html"))
    val html = Files.readString(Paths.get(s"$dir/response.html"))
    // expected.json: date 13/02/2025, 639 data rows, agro tickers
    // {BGI,CCM,CNL,ETH,ICF,SJC,SOY} with >= 55 rows; BGI/G25 sample
    val dataRef = "ATUALIZADO EM:\\s*(\\d{2}/\\d{2}/\\d{4})".r
      .findFirstMatchIn(html).map(_.group(1))
    assert(dataRef.contains("13/02/2025"))

    val table = Ingest.htmlTables(html)
      .find(_.id == "tblDadosAjustes").get
    val dataRows = table.rows.filter(_.size >= 6)
      .filterNot(_.exists(_.toLowerCase.contains("mercadoria"))) // header
    assert(dataRows.size == 639)

    val agro = Set("BGI", "CCM", "CNL", "ETH", "ICF", "SJC", "SOY")
    // declared single-partition carry-forward over the 639-row fixture
    // (constant key instead of an empty spec, as in the main queries)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_all")).orderBy(col("row_idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val df = dataRows.zipWithIndex
      .map { case (r, i) => (i.toLong, r(0), r(1), r(2), r(3), r(4), r(5)) }
      .toDF("row_idx", "c0", "venc", "aj_ant", "aj_atual", "varia", "aj_contrato")
      .withColumn("_all", lit(0))
      // S2/W6: the ticker cell is only present on the first row of each
      // block — carry it forward relationally
      .withColumn("ticker_cell",
        when(trim(col("c0")) =!= "", trim(split(col("c0"), "-").getItem(0))))
      .withColumn("ticker", last(col("ticker_cell"), ignoreNulls = true).over(w))
      .filter(col("ticker").isin(agro.toSeq.map(x => x: Any): _*))
      .withColumn("ajuste_anterior", G.parseBrDecimal(col("aj_ant")).cast("double"))
      .withColumn("ajuste_atual", G.parseBrDecimal(col("aj_atual")).cast("double"))
      .withColumn("variacao", G.parseBrDecimal(col("varia")).cast("double"))
      .withColumn("vencimento_codigo", trim(col("venc")))
    val rows = df.collect()
    assert(rows.length >= 55)
    assert(rows.map(_.getAs[String]("ticker")).toSet == agro)
    val bgi = rows.find(r => r.getAs[String]("ticker") == "BGI" &&
      r.getAs[String]("vencimento_codigo") == "G25").get
    assert(bgi.getAs[Double]("ajuste_anterior") == 313.85)
    assert(bgi.getAs[Double]("ajuste_atual") == 311.45)
    assert(bgi.getAs[Double]("variacao") == -2.40)
    val sjc = rows.find(r => r.getAs[String]("ticker") == "SJC" &&
      r.getAs[String]("vencimento_codigo") == "H25").get
    assert(sjc.getAs[Double]("ajuste_anterior") == 22.6576)
    assert(sjc.getAs[Double]("ajuste_atual") == 22.7072)
  }

  test("b3/ajustes_sample weekend page: no trading day -> empty series") {
    val f = s"$goldenDir/b3/ajustes_sample/response_weekend.html"
    assume(available(f))
    val html = Files.readString(Paths.get(f))
    // the reference returns an empty frame when 'ATUALIZADO EM' is
    // absent (`b3/parser.py:50-57`) — same negative path here
    val dataRef = "ATUALIZADO EM:\\s*(\\d{2}/\\d{2}/\\d{4})".r.findFirstMatchIn(html)
    assert(dataRef.isEmpty)
    val rows = if (dataRef.isEmpty) Seq.empty
      else Ingest.htmlTables(html).find(_.id == "tblDadosAjustes")
        .map(_.rows).getOrElse(Seq.empty)
    assert(rows.isEmpty)
  }

  test("inmet/observacoes_sample: sentinel scrub matches expected.json") {
    val dir = s"$goldenDir/inmet/observacoes_sample"
    assume(available(s"$dir/response.json"))
    val renames = Seq("DT_MEDICAO" -> "data", "HR_MEDICAO" -> "hora_utc",
      "CD_ESTACAO" -> "estacao", "UF" -> "uf", "TEM_INS" -> "temperatura",
      "TEM_MAX" -> "temperatura_max", "TEM_MIN" -> "temperatura_min",
      "CHUVA" -> "precipitacao_mm", "RAD_GLO" -> "radiacao_kj_m2")
    val numeric = Seq("temperatura", "temperatura_max", "temperatura_min",
      "precipitacao_mm", "radiacao_kj_m2")
    val raw = spark.read.option("multiLine", "true").json(s"$dir/response.json")
    val renamed = renames.foldLeft(raw) { case (d, (from, to)) =>
      d.withColumnRenamed(from, to) }
    val df = numeric.foldLeft(renamed) { (d, c) =>
        d.withColumn(c, when(col(c) === -9999.0, lit(null)).otherwise(col(c)))
      }
      .withColumn("data", col("data").cast("date"))
      .filter(col("data").isNotNull)
      .orderBy("estacao", "data", "hora_utc")
    val rows = df.collect()
    // expected.json: count=3, first/last temp 22.5/21.2, sentinels null
    assert(rows.length == 3)
    assert(rows.head.getAs[Double]("temperatura") == 22.5)
    assert(rows.last.getAs[Double]("temperatura") == 21.2)
    val mid = rows(1)
    assert(mid.isNullAt(df.columns.indexOf("temperatura_max")))
    assert(mid.isNullAt(df.columns.indexOf("radiacao_kj_m2")))
    assert(rows.forall(r => !r.isNullAt(df.columns.indexOf("temperatura"))))
  }

  test("antaq/movimentacao_sample: 3-table join matches expected.json") {
    val dir = s"$goldenDir/antaq/movimentacao_sample"
    assume(available(s"$dir/carga.txt"))
    def txt(f: String) = Ingest.csvScanBr(spark, s"$dir/$f", encoding = "UTF-8")
    val atracacao = txt("atracacao.txt").select(
      col("IDAtracacao"), col("Porto Atracação").as("porto"),
      col("Terminal").as("terminal"), col("Município").as("municipio"),
      col("SGUF").as("uf"), col("Região Geográfica").as("regiao"),
      col("Ano").cast("int").as("ano"), expr("try_cast(Mes AS INT)").as("mes"))
    val carga = txt("carga.txt").select(
      col("IDAtracacao"), col("CDMercadoria").as("cd_mercadoria"),
      col("Natureza da Carga").as("natureza_carga"), col("Sentido").as("sentido"),
      expr("try_cast(TEU AS INT)").as("teu"),
      G.parseBrDecimal(col("QTCarga")).cast("double").as("qt_carga"),
      G.parseBrDecimal(col("VLPesoCargaBruta")).cast("double").as("peso_bruto_ton"))
    val mercadoria = txt("mercadoria.txt")
      .select(col("CDMercadoria").as("cd_mercadoria"),
        col("Grupo de Mercadoria").as("grupo_mercadoria"),
        col("Nomenclatura Simplificada Mercadoria").as("mercadoria"))
      .dropDuplicates("cd_mercadoria")
    val joined = carga
      .join(atracacao, Seq("IDAtracacao"), "left")
      .join(broadcast(mercadoria), Seq("cd_mercadoria"), "left")
      .orderBy(col("ano"), col("mes"), col("uf"), col("porto"))
    val rows = joined.collect()
    // expected.json: 10 rows, ufs {AM, PA}, first porto Terminal Navecunha
    assert(rows.length == 10)
    assert(rows.map(_.getAs[String]("uf")).toSet == Set("AM", "PA"))
    assert(rows.head.getAs[String]("porto") == "Terminal Navecunha")
    assert(rows.forall(r => !r.isNullAt(joined.columns.indexOf("ano"))))
  }

  test("usda/psd_soja_sample: rename + canonical sort + pivot-first") {
    val base = s"$goldenDir/usda"
    val caseDir = Option(new java.io.File(base).listFiles()).toSeq.flatten
      .find(f => f.isDirectory && available(s"${f.getPath}/response.json"))
    assume(caseDir.isDefined)
    val raw = spark.read.option("multiLine", "true")
      .json(caseDir.get.getPath + "/response.json")
    val df = raw.select(
        col("CommodityCode").cast("string").as("commodity_code"),
        col("CountryCode").as("country_code"), col("CountryName").as("country"),
        col("MarketYear").cast("int").as("market_year"),
        col("AttributeDescription").as("attribute"),
        col("UnitDescription").as("unit"),
        col("Value").cast("double").as("value"))
      .withColumn("commodity",
        when(col("commodity_code") === "2222000", "soja")
          .otherwise(col("commodity_code")))
      .orderBy("market_year", "country_code", "attribute")
    val rows = df.collect()
    // expected.json: count=5, commodity soja, market_year 2024
    assert(rows.length == 5)
    assert(rows.head.getAs[String]("commodity") == "soja")
    assert(rows.head.getAs[Int]("market_year") == 2024)
    assert(rows.last.getAs[String]("country_code") == "BR")
    // A12 on real data: attribute pivot with first
    val wide = df.groupBy("commodity", "country_code", "market_year")
      .pivot("attribute").agg(first(col("value")))
    val w = wide.collect()(0)
    assert(wide.count() == 1)
    assert(w.getAs[Double]("Production") == 153000.0)
  }

  test("nasa_power/daily_sample: nested param->date dicts unpivoted relationally") {
    val base = s"$goldenDir/nasa_power"
    val caseDir = Option(new java.io.File(base).listFiles()).toSeq.flatten
      .find(f => f.isDirectory && available(s"${f.getPath}/response.json"))
    assume(caseDir.isDefined)
    val raw = spark.read.option("multiLine", "true")
      .json(caseDir.get.getPath + "/response.json")
    // date-keyed structs -> maps (schema-independent) -> explode the
    // spine parameter, look the others up by date
    def pmap(name: String) =
      from_json(to_json(col(s"properties.parameter.$name")),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.DoubleType))
    val df = raw.select(
        col("geometry.coordinates").getItem(0).as("lon"),
        col("geometry.coordinates").getItem(1).as("lat"),
        pmap("T2M").as("t2m"), pmap("T2M_MAX").as("t2m_max"),
        pmap("T2M_MIN").as("t2m_min"), pmap("PRECTOTCORR").as("prec"))
      .select(col("lon"), col("lat"),
        explode(col("t2m")).as(Seq("data_s", "temp_media")),
        col("t2m_max"), col("t2m_min"), col("prec"))
      .withColumn("temp_max", element_at(col("t2m_max"), col("data_s")))
      .withColumn("temp_min", element_at(col("t2m_min"), col("data_s")))
      .withColumn("precip_mm", element_at(col("prec"), col("data_s")))
      .withColumn("data", to_date(col("data_s"), "yyyyMMdd"))
      .withColumn("uf", lit("MT"))
      .orderBy("data")
    val rows = df.collect()
    // expected.json: 5 rows; first (25.15, 4.18), last (25.53, 0.82); MT point
    assert(rows.length == 5)
    assert(rows.head.getAs[Double]("temp_media") == 25.15)
    assert(rows.head.getAs[Double]("precip_mm") == 4.18)
    assert(rows.last.getAs[Double]("temp_media") == 25.53)
    assert(rows.last.getAs[Double]("precip_mm") == 0.82)
    assert(rows.head.getAs[Double]("lat") == -12.6 &&
      rows.head.getAs[Double]("lon") == -56.1)
    // A7/J4 on real data: monthly mean + first(coords) in ONE aggregation
    val monthly = df.groupBy(date_trunc("month", col("data")).as("mes"), col("uf"))
      .agg(avg("temp_media").as("t"), sum("precip_mm").as("p"),
        first("lat").as("lat"), first("lon").as("lon"))
    val m = monthly.collect()(0)
    assert(math.abs(m.getAs[Double]("t") - (25.15 + 24.74 + 26.4 + 26.04 + 25.53) / 5) < 1e-9)
    assert(m.getAs[Double]("lat") == -12.6)
  }

  private val sidraRename = Seq(
    "NC" -> "nivel_territorial_cod", "NN" -> "nivel_territorial",
    "MC" -> "localidade_cod", "MN" -> "localidade", "V" -> "valor",
    "D1C" -> "ano_cod", "D1N" -> "ano", "D2C" -> "variavel_cod",
    "D2N" -> "variavel", "D3C" -> "produto_cod", "D3N" -> "produto",
    "D4C" -> "classificacao_cod", "D4N" -> "classificacao")

  test("ibge/pam_soja_sample: SIDRA rename matches expected.json") {
    val dir = s"$goldenDir/ibge/pam_soja_sample"
    assume(available(s"$dir/response.csv"))
    val raw = spark.read.option("header", "true").csv(s"$dir/response.csv")
    val df = sidraRename.foldLeft(raw) { case (d, (from, to)) =>
        d.withColumnRenamed(from, to) }
      .withColumn("valor", expr("try_cast(valor AS DOUBLE)"))
    val rows = df.collect()
    // expected.json: 26 rows; rename semantics put the unit label in
    // `localidade` and the variable label in `produto` for this layout
    assert(rows.length == 26)
    assert(rows.head.getAs[String]("localidade") == "Toneladas")
    assert(rows.head.getAs[String]("produto") == "Quantidade produzida")
    // SIDRA placeholder values ('-', '...') coerce to null, as in the
    // reference (expected.json's non_null_columns excludes valor)
    assert(rows.count(!_.isNullAt(df.columns.indexOf("valor"))) == 23)
    assert(rows.forall(!_.isNullAt(df.columns.indexOf("localidade"))))
  }

  test("ibge/abate_bovino_sample: variable-split pivot (J3) matches samples") {
    val dir = s"$goldenDir/ibge/abate_bovino_sample"
    assume(available(s"$dir/response.csv"))
    val raw = spark.read.option("header", "true").csv(s"$dir/response.csv")
    // this table's D-levels: D1=localidade, D2=variavel (284/285), D3=trimestre
    val long = raw.select(
      expr("try_cast(D1C AS INT)").as("localidade_cod"), col("D1N").as("localidade"),
      col("D2C").as("variavel_cod"), col("D3C").as("trimestre"),
      expr("try_cast(V AS DOUBLE)").as("valor"))
    // J3 as a pivot instead of a self-join: one shuffle
    val wide = long.groupBy("trimestre", "localidade", "localidade_cod")
      .pivot("variavel_cod", Seq("284", "285"))
      .agg(first(col("valor")))
      .withColumnRenamed("284", "animais_abatidos")
      .withColumnRenamed("285", "peso_carcacas")
      .withColumn("especie", lit("bovino"))
      .withColumn("fonte", lit("ibge_abate"))
    val rows = wide.collect()
    // expected.json: 5 rows; published samples for RO / MT / SP
    assert(rows.length == 5)
    def of(loc: String) = rows.find(_.getAs[String]("localidade") == loc).get
    assert(of("Rondônia").getAs[Double]("animais_abatidos") == 764178.0)
    assert(of("Rondônia").getAs[Double]("peso_carcacas") == 194840942.0)
    assert(of("Mato Grosso").getAs[Double]("animais_abatidos") == 1602321.0)
    assert(of("São Paulo").getAs[Double]("peso_carcacas") == 255667937.0)
  }

  test("queimadas/focos_sample: latin-1 CSV scan with derived columns") {
    val dir = s"$goldenDir/queimadas/focos_sample"
    assume(available(s"$dir/response.csv"))
    val raw = spark.read.option("header", "true").csv(s"$dir/response.csv")
    val df = raw.select(
        col("id"), trim(col("lat")).cast("double").as("lat"),
        trim(col("lon")).cast("double").as("lon"),
        col("data_hora_gmt").cast("timestamp").as("data_hora_gmt"),
        col("satelite"), col("municipio"),
        expr("try_cast(municipio_id AS BIGINT)").as("municipio_id"),
        col("estado"), col("bioma"), expr("try_cast(frp AS DOUBLE)").as("frp"))
      .withColumn("data", col("data_hora_gmt").cast("date"))
      .withColumn("hora_gmt", date_format(col("data_hora_gmt"), "HH:mm"))
      .join(broadcast(graft.dims.Dims.ufDim(spark)),
        G.stripAccents(lower(col("estado"))) ===
          G.stripAccents(lower(col("nome"))), "left")
      .withColumnRenamed("sigla", "uf")
    val rows = df.orderBy("id").collect()
    // expected.json: 10 rows; coordinates inside Brazil's bounds
    assert(rows.length == 10)
    assert(rows.forall(r => !r.isNullAt(df.columns.indexOf("uf"))))
    assert(rows.forall(_.getAs[java.sql.Date]("data").toString == "2025-01-01"))
    assert(df.filter(col("lat") < -35 || col("lat") > 7 ||
      col("lon") < -75 || col("lon") > -30).count() == 0)
    assert(rows.exists(r => r.getAs[String]("uf") == "MT" &&
      r.getAs[Double]("frp") == 89.1))
  }

  test("na/soja_sample: many one-row tables unioned (R3) match expected.json") {
    val dir = s"$goldenDir/na/soja_sample"
    assume(available(s"$dir/response.html"))
    val html = Files.readString(Paths.get(s"$dir/response.html"))
    // every cot-fisicas table with a Data/Valor header contributes rows
    val tables = Ingest.htmlTables(html).filter { t =>
      t.rows.headOption.exists { h =>
        h.exists(_.toLowerCase.contains("data")) &&
          h.exists(c => c.toLowerCase.contains("valor") || c.toLowerCase.contains("r$"))
      }
    }
    val cells = tables.flatMap(_.rows.tail).filter(_.size >= 2)
      .map(r => (r(0), r(1), if (r.size > 2) r(2) else null))
    val df = cells.toDF("data_s", "valor_s", "var_s")
      // weekly rows ("09 - 13/02/2026") parse to their end date,
      // mirroring the reference's weekly regex
      .withColumn("data_s", regexp_extract(col("data_s"),
        "(\\d{2}/\\d{2}/\\d{4})\\s*$", 1))
      .select(G.parseDateMulti(col("data_s")).as("data"),
        G.parseBrDecimal(col("valor_s")).as("valor"),
        G.parseBrDecimal(col("var_s")).as("variacao"),
        lit("BRL/sc60kg").as("unidade"), lit("Paranaguá/PR").as("praca"))
      .filter(col("data").isNotNull && col("valor").isNotNull)
      .orderBy(col("data").desc)
    val rows = df.collect()
    // expected.json: 10 rows; first (2026-02-20, 128.49); last (2026-02-05, 125.61)
    assert(rows.length == 10)
    assert(rows.head.getAs[java.sql.Date]("data").toString == "2026-02-20")
    assert(rows.head.getAs[java.math.BigDecimal]("valor")
      .compareTo(new java.math.BigDecimal("128.49")) == 0)
    assert(rows.last.getAs[java.sql.Date]("data").toString == "2026-02-05")
    assert(rows.last.getAs[java.math.BigDecimal]("valor")
      .compareTo(new java.math.BigDecimal("125.61")) == 0)
    assert(rows.head.getAs[String]("praca") == "Paranaguá/PR")
  }

  test("bcb/custeio_sample: SICOR rename + code enrichment + canonical sort") {
    val dir = s"$goldenDir/bcb/custeio_sample"
    assume(available(s"$dir/response.json"))
    def m(pairs: (String, String)*)(c: org.apache.spark.sql.Column) =
      pairs.foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
        when(c === k, v).otherwise(acc) }
    val programas = m("0001" -> "Pronaf", "0050" -> "Pronamp",
      "0999" -> "Sem programa especifico") _
    val fontes = m("0201" -> "Recursos obrigatorios (MCR 6.2)",
      "0300" -> "Poupanca rural livre", "0303" -> "Poupanca rural controlados",
      "0402" -> "BNDES/Finame equalizavel", "0430" -> "LCA",
      "0502" -> "FNE", "0505" -> "Funcafe") _
    val seguros = m("1" -> "Proagro", "2" -> "Sem seguro",
      "3" -> "Seguro privado", "9" -> "Nao se aplica") _
    val modalidades = m("01" -> "Individual", "03" -> "Coletiva") _
    val atividades = m("1" -> "Agricola", "2" -> "Pecuaria") _

    val raw = spark.read.option("multiLine", "true").json(s"$dir/response.json")
    val df = raw.select(
        lower(trim(regexp_replace(col("nomeProduto"), "\"", ""))).as("produto"),
        col("nomeRegiao").as("regiao"), upper(trim(col("nomeUF"))).as("uf"),
        expr("try_cast(MesEmissao AS INT)").as("mes_emissao"),
        expr("try_cast(AnoEmissao AS INT)").as("ano_emissao"),
        col("cdPrograma").as("cd_programa"),
        col("cdFonteRecurso").as("cd_fonte_recurso"),
        col("cdTipoSeguro").cast("string").as("cd_tipo_seguro"),
        col("cdModalidade").as("cd_modalidade"),
        col("Atividade").cast("string").as("cd_atividade"),
        expr("try_cast(QtdCusteio AS BIGINT)").as("qtd_contratos"),
        expr("try_cast(VlCusteio AS DOUBLE)").as("valor"),
        expr("try_cast(AreaCusteio AS DOUBLE)").as("area_financiada"))
      .withColumn("finalidade", lit("custeio"))
      .withColumn("programa", programas(col("cd_programa")))
      .withColumn("fonte_recurso", fontes(col("cd_fonte_recurso")))
      .withColumn("tipo_seguro", seguros(col("cd_tipo_seguro")))
      .withColumn("modalidade", modalidades(col("cd_modalidade")))
      .withColumn("atividade", atividades(col("cd_atividade")))
      .orderBy("uf", "produto")
    val rows = df.collect()
    // expected.json: 20 rows; first BA/FNE/'Sem programa especifico'
    // with Seguro privado; last RS/Pronamp/'Poupanca rural livre'
    assert(rows.length == 20)
    val f = rows.head
    assert(f.getAs[String]("uf") == "BA" && f.getAs[String]("produto") == "soja")
    assert(f.getAs[String]("programa") == "Sem programa especifico")
    assert(f.getAs[String]("fonte_recurso") == "FNE")
    assert(f.getAs[String]("tipo_seguro") == "Seguro privado")
    assert(f.getAs[String]("modalidade") == "Individual")
    assert(f.getAs[String]("atividade") == "Agricola")
    val l = rows.last
    assert(l.getAs[String]("uf") == "RS")
    assert(l.getAs[String]("programa") == "Pronamp")
    assert(l.getAs[String]("fonte_recurso") == "Poupanca rural livre")
    // A4 rollup on real data: by (uf, produto) sums
    val rollup = df.groupBy("uf", "produto")
      .agg(sum("valor").as("valor_total"), sum("qtd_contratos").as("contratos"))
    assert(rollup.count() > 0 &&
      rollup.agg(sum("contratos")).collect()(0).getLong(0) ==
        df.agg(sum("qtd_contratos")).collect()(0).getLong(0))
  }

  test("sicar/imoveis_mt_municipio: rural-property CSV matches expected.json") {
    val dir = s"$goldenDir/sicar/imoveis_mt_municipio"
    assume(available(s"$dir/response.csv"))
    val df = spark.read.option("header", "true").csv(s"$dir/response.csv")
      .select(col("cod_imovel"), col("status_imovel").as("status"),
        col("dat_criacao").cast("timestamp").as("data_criacao"),
        expr("try_cast(area AS DOUBLE)").as("area_ha"),
        col("uf"), col("municipio"),
        expr("try_cast(cod_municipio_ibge AS BIGINT)").as("cod_municipio_ibge"),
        col("tipo_imovel").as("tipo"))
    val rows = df.collect()
    // expected.json: 10 rows; first property code/status/area/uf/tipo
    assert(rows.length == 10)
    val f = rows.head
    assert(f.getAs[String]("cod_imovel") ==
      "MT-5107925-D6C8D851BCE54F42A51A5DC123B0108B")
    assert(f.getAs[String]("status") == "AT")
    assert(f.getAs[Double]("area_ha") == 91.1192)
    assert(f.getAs[String]("uf") == "MT" && f.getAs[String]("tipo") == "IRU")
    assert(f.getAs[Long]("cod_municipio_ibge") == 5107925L)
  }

  test("imea/cotacoes_soja_sample: quote JSON matches expected.json") {
    val dir = s"$goldenDir/imea/cotacoes_soja_sample"
    assume(available(s"$dir/response.json"))
    val df = spark.read.option("multiLine", "true").json(s"$dir/response.json")
      .select(lit("soja").as("cadeia"), // CadeiaId 4 = soja in the request
        col("Localidade").as("localidade"),
        expr("try_cast(Valor AS DOUBLE)").as("valor"),
        expr("try_cast(Variacao AS DOUBLE)").as("variacao"),
        col("Safra").as("safra"),
        col("UnidadeSigla").as("unidade"),
        col("UnidadeDescricao").as("unidade_descricao"),
        col("DataPublicacao").cast("timestamp").as("data_publicacao"))
    val rows = df.collect()
    // expected.json: 5 rows; first localidade Convencional; cadeia/valor/
    // unidade never null
    assert(rows.length == 5)
    assert(rows.head.getAs[String]("localidade") == "Convencional")
    assert(rows.head.getAs[Double]("valor") == 182.5)
    Seq("cadeia", "localidade", "valor", "unidade").foreach { c =>
      assert(rows.forall(!_.isNullAt(df.columns.indexOf(c))), s"null in $c")
    }
  }

  test("comtrade/comercio_sample: full trade parse matches expected.json") {
    val dir = s"$goldenDir/comtrade/comercio_sample"
    assume(available(s"$dir/response.json"))
    val df = spark.read.option("multiLine", "true").json(s"$dir/response.json")
      .select(explode(col("data")).as("r"))
      .select(
        col("r.period").cast("string").as("periodo"),
        col("r.reporterCode").cast("int").as("reporter_code"),
        col("r.reporterISO").as("reporter_iso"),
        col("r.partnerISO").as("partner_iso"),
        col("r.flowCode").as("fluxo_code"),
        col("r.cmdCode").cast("string").as("hs_code"),
        col("r.netWgt").cast("double").as("peso_liquido_kg"),
        col("r.fobvalue").cast("double").as("valor_fob_usd"),
        col("r.primaryValue").cast("double").as("valor_primario_usd"),
        col("r.qty").cast("double").as("quantidade"))
      .withColumn("volume_ton", col("peso_liquido_kg") / 1000.0)
      .withColumn("ano", substring(col("periodo"), 1, 4).cast("int"))
      .withColumn("mes", when(length(col("periodo")) >= 6,
        substring(col("periodo"), 5, 2).cast("int")))
      .orderBy("periodo", "hs_code", "reporter_iso", "partner_iso")
    val rows = df.collect()
    // expected.json: 8 rows; first = BRA->CHN 2024 export of 1201
    assert(rows.length == 8)
    val f = rows.head
    assert(f.getAs[String]("periodo") == "2024" && f.getAs[Int]("ano") == 2024)
    assert(f.isNullAt(df.columns.indexOf("mes")))
    assert(f.getAs[Int]("reporter_code") == 76 &&
      f.getAs[String]("reporter_iso") == "BRA")
    assert(f.getAs[String]("partner_iso") == "CHN" &&
      f.getAs[String]("fluxo_code") == "X")
    assert(f.getAs[Double]("peso_liquido_kg") == 7.2557710367e10)
    assert(math.abs(f.getAs[Double]("volume_ton") - 7.2557710367e7) < 1e-6)
    assert(f.getAs[Double]("quantidade") == 7.2867736673e10)
  }

  test("b3/posicoes_sample: ticker classification (F9) matches expected.json") {
    val dir = s"$goldenDir/b3/posicoes_sample"
    assume(available(s"$dir/response.csv"))
    val agro = Seq("BGI", "CCM", "ETH", "ICF", "SJC", "SOY", "CNL")
    val raw = spark.read.option("header", "true").option("sep", ";")
      .csv(s"$dir/response.csv")
    val df = raw.filter(col("Asst").isin(agro.map(x => x: Any): _*))
      .select(col("RptDt").cast("date").as("data"),
        col("TckrSymb").as("ticker_completo"), col("Asst").as("ticker"),
        col("XprtnCd").as("vencimento_codigo"),
        expr("try_cast(OpnIntrst AS BIGINT)").as("posicoes_abertas"),
        expr("try_cast(VartnOpnIntrst AS BIGINT)").as("variacao_posicoes"))
      .withColumn("tipo",
        when(col("ticker_completo").rlike("^[A-Z]{2,4}[FGHJKMNQUVXZ]\\d{2}$"), "futuro")
          .when(col("ticker_completo").rlike("^[A-Z]{2,4}[FGHJKMNQUVXZ]\\d{2}[CP]\\d+$"), "opcao")
          .otherwise("outro"))
      .withColumn("vencimento_mes",
        G.tickerMonth(regexp_extract(col("ticker_completo"),
          "^([A-Z]{2,4}[FGHJKMNQUVXZ]\\d{2})", 1)).cast("int"))
    val rows = df.collect()
    // expected.json: 518 agro rows, 47 futures / 471 options; samples
    assert(rows.length == 518)
    assert(rows.map(_.getAs[String]("ticker")).toSet ==
      Set("BGI", "CCM", "ETH", "ICF", "SJC"))
    assert(rows.count(_.getAs[String]("tipo") == "futuro") == 47)
    assert(rows.count(_.getAs[String]("tipo") == "opcao") == 471)
    assert(rows.forall(_.getAs[java.sql.Date]("data").toString == "2025-12-19"))
    val bgi = rows.find(_.getAs[String]("ticker_completo") == "BGIF26").get
    assert(bgi.getAs[Long]("posicoes_abertas") == 12875L &&
      bgi.getAs[Long]("variacao_posicoes") == -512L)
    assert(bgi.getAs[Int]("vencimento_mes") == 1) // F = January
    val ccm = rows.find(_.getAs[String]("ticker_completo") == "CCMH26").get
    assert(ccm.getAs[Long]("posicoes_abertas") == 26178L &&
      ccm.getAs[Long]("variacao_posicoes") == 232L)
  }

  test("desmatamento/prodes_sample: state-name normalization + typed output") {
    val dir = s"$goldenDir/desmatamento/prodes_sample"
    assume(available(s"$dir/response.csv"))
    val raw = spark.read.option("header", "true").csv(s"$dir/response.csv")
    val lk = broadcast(Dims.ufLookup(spark))
    val df = raw
      .join(lk, G.stripAccents(lower(trim(col("state")))) === lk("k"), "left")
      .select(expr("try_cast(year AS INT)").as("ano"),
        col("sigla").as("uf"),
        coalesce(col("main_class"), lit("desmatamento")).as("classe"),
        expr("try_cast(area_km AS DOUBLE)").as("area_km2"),
        coalesce(col("satellite"), lit("")).as("satelite"),
        coalesce(col("sensor"), lit("")).as("sensor"),
        lit("Cerrado").as("bioma")) // bioma is the request parameter
    val rows = df.collect()
    // expected.json: >=15 rows, single UF PA, non-null core, area >= 0
    assert(rows.length >= 15)
    assert(rows.map(_.getAs[String]("uf")).toSet == Set("PA"))
    assert(rows.forall(r => !r.isNullAt(df.columns.indexOf("ano")) &&
      !r.isNullAt(df.columns.indexOf("area_km2"))))
    assert(rows.forall(_.getAs[Double]("area_km2") >= 0))
  }

  test("anda/entregas_sample: wide month-grid melted to long (R5/R6)") {
    val dir = s"$goldenDir/anda/entregas_sample"
    assume(available(s"$dir/response.json"))
    // the input is an extracted PDF grid (rows = months, columns = years)
    def noAccents(s: String): String =
      java.text.Normalizer.normalize(s.trim.toLowerCase,
        java.text.Normalizer.Form.NFKD).replaceAll("\\p{M}", "")
    val rowsRaw = spark.read.option("multiLine", "true")
      .schema("value array<array<string>>")
      .json(Seq("{\"value\": " +
        Files.readString(Paths.get(s"$dir/response.json")) + "}").toDS())
      .selectExpr("explode(value) AS r").collect()
      .map(_.getSeq[String](0))
    // month names keyed accent-free: "março" and "marco" both resolve
    val months = Seq("janeiro", "fevereiro", "marco", "abril", "maio",
      "junho", "julho", "agosto", "setembro", "outubro", "novembro",
      "dezembro").zipWithIndex.map { case (m, i) => m -> (i + 1) }.toMap
    // header row carries the year columns; find 2024's index
    val header = rowsRaw.find(_.exists(c => c != null && c.trim == "2024")).get
    val yearIdx = header.indexWhere(c => c != null && c.trim == "2024")
    // the PDF extractor packs all 12 months (and their values) into one
    // newline-separated cell — expand (SURVEY S5's newline-packed quirk)
    val monthRow = rowsRaw.find(_.exists(c =>
      c != null && noAccents(c).startsWith("janeiro"))).get
    val nameIdx = monthRow.indexWhere(c =>
      c != null && noAccents(c).startsWith("janeiro"))
    val monthRows = monthRow(nameIdx).split("\n")
      .zip(monthRow(yearIdx).split("\n"))
      .map { case (n, v) => (months(noAccents(n)), v) }
    val df = monthRows.toSeq.toDF("mes", "vol_raw")
      .withColumn("volume_ton", G.parseBrDecimal(col("vol_raw")).cast("double"))
      .withColumn("ano", lit(2024))
      .withColumn("uf", lit("BR"))
      .withColumn("produto_fertilizante", lit("total"))
      .filter(col("volume_ton").isNotNull)
      .orderBy("mes")
    val out = df.collect()
    // expected.json: 12 rows, months 1..12, first (1, BR, total, 3699769.0)
    assert(out.length == 12)
    assert(out.map(_.getAs[Int]("mes")).toSeq == (1 to 12))
    assert(out.head.getAs[Double]("volume_ton") == 3699769.0)
    assert(out.forall(_.getAs[String]("uf") == "BR"))
  }

  test("ibge/ppm_bovino_sample: SIDRA rename matches expected.json") {
    val dir = s"$goldenDir/ibge/ppm_bovino_sample"
    assume(available(s"$dir/response.csv"))
    val raw = spark.read.option("header", "true").csv(s"$dir/response.csv")
    val df = sidraRename.foldLeft(raw) { case (d, (from, to)) =>
        d.withColumnRenamed(from, to) }
      .withColumn("valor", expr("try_cast(valor AS DOUBLE)"))
    val rows = df.collect()
    // expected.json: 27 rows; first Rondônia 14,850,000 head; last DF
    assert(rows.length == 27)
    assert(rows.head.getAs[String]("localidade") == "Rondônia")
    assert(rows.head.getAs[Double]("valor") == 14850000.0)
    assert(rows.last.getAs[String]("localidade") == "Distrito Federal")
    assert(rows.last.getAs[Double]("valor") == 95000.0)
  }

  test("desmatamento/deter_sample: alert classes + municipality ids") {
    val dir = s"$goldenDir/desmatamento/deter_sample"
    assume(available(s"$dir/response.csv"))
    val raw = spark.read.option("header", "true").csv(s"$dir/response.csv")
    val cols = raw.columns.toSet
    // DETER layout differs from PRODES: locate the date/class columns
    val dateCol = Seq("view_date", "date", "data").find(cols.contains).get
    val classCol = Seq("classname", "class_name", "main_class").find(cols.contains).get
    val ufCol = Seq("uf", "state").find(cols.contains).get
    val areaCol = Seq("areamunkm", "area_km", "areatotalkm").find(cols.contains).get
    val df = raw.select(
        col(dateCol).cast("date").as("data"),
        col(classCol).as("classe"),
        col(ufCol).as("uf_raw"),
        expr(s"try_cast($areaCol AS DOUBLE)").as("area_km2"))
      .withColumn("uf", when(length(trim(col("uf_raw"))) === 2,
          upper(trim(col("uf_raw"))))
        .otherwise(col("uf_raw")))
      .withColumn("bioma", lit("Amazônia"))
    val rows = df.collect()
    // expected.json: >=15 rows, single UF PA, >=5 distinct alert classes
    assert(rows.length >= 15)
    assert(rows.map(_.getAs[String]("uf")).toSet == Set("PA"))
    val classes = rows.map(_.getAs[String]("classe")).toSet
    assert(Set("CICATRIZ_DE_QUEIMADA", "DEGRADACAO", "DESMATAMENTO_CR")
      .subsetOf(classes))
    assert(rows.forall(r => !r.isNullAt(df.columns.indexOf("data")) &&
      r.getAs[Double]("area_km2") >= 0))
  }

  test("antt_pedagio/fluxo_v1_sample: category mapping + tipo_cobranca rollup") {
    val dir = s"$goldenDir/antt_pedagio/fluxo_v1_sample"
    assume(available(s"$dir/response.csv"))
    val catEixos = Map("Categoria 1" -> 2, "Categoria 2" -> 2, "Categoria 3" -> 3,
      "Categoria 4" -> 3, "Categoria 5" -> 4, "Categoria 6" -> 4,
      "Categoria 7" -> 5, "Categoria 8" -> 6, "Categoria 9" -> 2)
    val catTipo = Map("Categoria 1" -> "Passeio", "Categoria 2" -> "Comercial",
      "Categoria 3" -> "Passeio", "Categoria 4" -> "Comercial",
      "Categoria 5" -> "Passeio", "Categoria 6" -> "Comercial",
      "Categoria 7" -> "Comercial", "Categoria 8" -> "Comercial",
      "Categoria 9" -> "Moto")
    def m(mp: Map[String, Any])(c: org.apache.spark.sql.Column) =
      mp.foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
        when(c === k, v.toString).otherwise(acc) }
    val raw = spark.read.option("header", "true").option("sep", ";")
      .csv(s"$dir/response.csv")
    val df = raw
      .withColumn("data", to_date(col("mes_ano"), "dd/MM/yyyy"))
      .withColumn("n_eixos", m(catEixos)(trim(col("categoria"))).cast("int"))
      .withColumn("tipo_veiculo", m(catTipo)(trim(col("categoria"))))
      .withColumn("volume", expr("try_cast(quantidade AS INT)"))
      // tipo_cobranca (Automatica/Manual) aggregates away
      .groupBy("data", "concessionaria", "praca", "sentido", "n_eixos", "tipo_veiculo")
      .agg(sum("volume").cast("int").as("volume"))
      .orderBy("data", "sentido", "n_eixos")
    val rows = df.collect()
    // expected checks: >=4 rows, volumes positive, tipo_cobranca rolled
    // up (Campinas 2023-03 Categoria1 Crescente = 48500+4200), month
    // starts, sorted by data
    assert(rows.length >= 4)
    assert(rows.forall(_.getAs[Int]("volume") > 0))
    val c1 = rows.find(r => r.getAs[java.sql.Date]("data").toString == "2023-03-01" &&
      r.getAs[Int]("n_eixos") == 2 && r.getAs[String]("sentido") == "Crescente").get
    assert(c1.getAs[Int]("volume") == 52700) // 48500 + 4200 merged
    assert(rows.forall(_.getAs[java.sql.Date]("data").toString.endsWith("-01")))
    assert(rows.map(_.getAs[java.sql.Date]("data").toString).toSeq ==
      rows.map(_.getAs[java.sql.Date]("data").toString).toSeq.sorted)
  }

  test("ibge/censo_agro_efetivo_sample: two-variable pivot matches samples") {
    val dir = s"$goldenDir/ibge/censo_agro_efetivo_sample"
    assume(available(s"$dir/response.csv"))
    val raw = spark.read.option("header", "true").csv(s"$dir/response.csv")
    val long = raw.select(
      col("D1N").as("localidade"), expr("try_cast(D1C AS INT)").as("localidade_cod"),
      col("D2C").as("variavel_cod"), col("D5N").as("categoria"),
      expr("try_cast(V AS DOUBLE)").as("valor"))
    val rows = long.collect()
    assert(rows.length == 10)
    // 2209 = head count, 10010 = establishments: pivot per locality
    val wide = long.groupBy("localidade", "categoria")
      .pivot("variavel_cod", Seq("2209", "10010"))
      .agg(first(col("valor")))
      .withColumnRenamed("2209", "cabecas")
      .withColumnRenamed("10010", "estabelecimentos")
    def of(loc: String) = wide.filter(col("localidade") === loc &&
      col("categoria") === "Bovinos").collect()(0)
    assert(of("São Paulo").getAs[Double]("cabecas") == 10391878.0)
    assert(of("São Paulo").getAs[Double]("estabelecimentos") == 131234.0)
    assert(of("Mato Grosso").getAs[Double]("cabecas") == 30199340.0)
    assert(of("Mato Grosso").getAs[Double]("estabelecimentos") == 87560.0)
    assert(wide.select("categoria").distinct().collect()
      .map(_.getString(0)).toSet == Set("Bovinos", "Ovinos"))
  }

  test("mapa_psr/apolices_sample: 700+ row insurance CSV with sentinel scrub") {
    val dir = s"$goldenDir/mapa_psr/apolices_sample"
    assume(available(s"$dir/response.csv"))
    val raw = Ingest.csvScanBr(spark, s"$dir/response.csv") // ;-sep latin-1
    def cleaned(c: String) = when(trim(col(c)) === "-", lit(null))
      .otherwise(trim(col(c)))
    val df = raw.select(
        col("NR_APOLICE").as("nr_apolice"),
        expr("try_cast(ANO_APOLICE AS INT)").as("ano_apolice"),
        col("SG_UF_PROPRIEDADE").as("uf"),
        col("NM_MUNICIPIO_PROPRIEDADE").as("municipio"),
        expr("try_cast(CD_GEOCMU AS BIGINT)").as("cd_ibge"),
        col("NM_CULTURA_GLOBAL").as("cultura"),
        cleaned("NR_AREA_TOTAL").cast("double").as("area_total"),
        G.parseBrDecimal(cleaned("VL_PREMIO_LIQUIDO")).cast("double").as("valor_premio"),
        G.parseBrDecimal(cleaned("PE_TAXA")).cast("double").as("taxa"),
        col("NM_RAZAO_SOCIAL").as("seguradora"))
      .orderBy("ano_apolice", "nr_apolice")
    val rows = df.collect()
    // expected checks: >=700 rows, int years sorted, float areas
    assert(rows.length >= 700)
    val anos = rows.map(_.getAs[Int]("ano_apolice"))
    assert(anos.toSeq == anos.toSeq.sorted && anos.forall(_ >= 2006))
    assert(rows.exists(r => !r.isNullAt(df.columns.indexOf("area_total"))))
    val first = rows.head
    assert(first.getAs[String]("uf").length == 2)
    assert(rows.forall(r => !r.isNullAt(df.columns.indexOf("seguradora"))))
  }

  test("conab_ceasa/precos_sample: column-packed price matrix melted to long") {
    val dir = s"$goldenDir/conab_ceasa/precos_sample"
    assume(available(s"$dir/precos_response.json"))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("metadata", ArrayType(StructType(Seq(
        StructField("colName", StringType))))),
      StructField("resultset", ArrayType(ArrayType(StringType)))))
    def read(f: String) = spark.read.option("multiLine", "true")
      .schema(schema).json(s"$dir/$f")
    // ceasa list order defines the matrix column order
    val ceasas = read("ceasas_response.json")
      .select(posexplode(col("resultset")).as(Seq("idx", "r")))
      .select(col("idx"), col("r").getItem(1).as("ceasa"))
    // per-column capture dates ride in the metadata colNames
    val datas = read("precos_response.json")
      .select(posexplode(col("metadata")).as(Seq("midx", "m")))
      .filter(col("midx") > 0)
      .select((col("midx") - 1).as("idx"),
        to_date(regexp_extract(col("m.colName"),
          "\\((\\d{2}/\\d{2}/\\d{4})\\)", 1), "dd/MM/yyyy").as("data"))
    val prices = read("precos_response.json")
      .select(explode(col("resultset")).as("row"))
      .select(col("row").getItem(0).as("produto_unid"),
        posexplode(expr("slice(row, 2, size(row) - 1)")).as(Seq("idx", "preco_s")))
      .filter(col("preco_s").isNotNull)
      .withColumn("preco", col("preco_s").cast("double"))
      .withColumn("produto",
        trim(regexp_extract(col("produto_unid"), "^(.*?)\\s*\\(([^)]+)\\)\\s*$", 1)))
      .withColumn("unidade",
        regexp_extract(col("produto_unid"), "^(.*?)\\s*\\(([^)]+)\\)\\s*$", 2))
      .join(broadcast(ceasas), Seq("idx"))
      .join(broadcast(datas), Seq("idx"), "left")
      .withColumn("ceasa_uf",
        when(col("ceasa").startsWith("CEAGESP"), "SP")
          .otherwise(regexp_extract(col("ceasa"), "/([A-Z]{2})", 1)))
    // expected.json: 48 produtos, 43 ceasas, >=1900 non-null prices,
    // published samples for tomate@CEAGESP-SP and abacaxi@Fortaleza
    assert(prices.select("produto").distinct().count() == 48)
    assert(ceasas.count() == 43)
    assert(prices.count() >= 1900)
    val tomate = prices.filter(col("produto") === "TOMATE" &&
      col("ceasa") === "CEAGESP - SAO PAULO").collect()(0)
    assert(tomate.getAs[Double]("preco") == 2.24)
    assert(tomate.getAs[String]("ceasa_uf") == "SP")
    assert(tomate.getAs[String]("unidade") == "KG")
    val abacaxi = prices.filter(col("produto") === "ABACAXI" &&
      col("ceasa") === "CEASA/CE - FORTALEZA").collect()(0)
    assert(abacaxi.getAs[String]("ceasa_uf") == "CE")
    assert(abacaxi.getAs[String]("unidade") == "UN")

    // categoria via the FRUTAS dim (reference `conab/ceasa/models.py`;
    // everything else is HORTALICAS): 20 fruit / 26 vegetable products
    val frutas = Set("ABACATE", "ABACAXI", "BANANA NANICA", "BANANA PRATA",
      "GOIABA", "LARANJA PERA", "LIMAO TAHITI", "MACA", "MAMAO FORMOSA",
      "MAMAO HAWAY", "MANGA", "MARACUJA AZEDO", "MELANCIA", "MELAO AMARELO",
      "MORANGO", "PERA IMPORTADA", "TANGERINA", "UVA ITALIA", "UVA NIAGARA",
      "UVA RUBI")
    val hortalicas = Set("ABOBORA", "ABOBRINHA", "ALFACE", "ALHO", "BATATA",
      "BATATA DOCE", "BERINJELA", "BETERRABA", "BROCOLO", "CARA", "CEBOLA",
      "CENOURA", "CHUCHU", "COCO VERDE", "COUVE", "COUVE-FLOR", "INHAME",
      "JILO", "MANDIOCA", "MANDIOQUINHA", "MILHO VERDE", "OVOS", "PEPINO",
      "PIMENTAO VERDE", "QUIABO", "REPOLHO", "TOMATE", "VAGEM")
    val cat = prices.withColumn("categoria",
      when(col("produto").isin(frutas.toSeq.map(x => x: Any): _*), "FRUTAS")
        .when(col("produto").isin(hortalicas.toSeq.map(x => x: Any): _*), "HORTALICAS")
        .otherwise("OUTROS"))
    val perCat = cat.groupBy("categoria")
      .agg(countDistinct("produto").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perCat.getOrElse("FRUTAS", 0L) == 20L)
    // the raw matrix carries all 28 dim hortaliças; the reference's
    // published 26 reflects its own price-presence sampling
    assert(perCat.getOrElse("HORTALICAS", 0L) >= 26L)
    assert(prices.select("unidade").distinct().collect()
      .map(_.getString(0)).toSet == Set("KG", "UN", "DZ"))
    assert(prices.filter(col("unidade") === "DZ").select("produto").distinct()
      .collect().map(_.getString(0)).toSet == Set("ALFACE", "OVOS"))
  }

  test("conab/safra_sample: XLSX wide-block soja sheet matches expected.json") {
    val xlsx = s"$goldenDir/conab/safra_sample/response.xlsx"
    assume(available(xlsx))
    import graft.ingest.Xlsx
    assert(Xlsx.sheetNames(xlsx).contains("Soja"))
    val grid = Xlsx.readSheet(xlsx, "Soja")
    // header discovery (S4) finds the REGIÃO/UF + metric-group row
    val h = Ingest.findHeaderRow(grid, Seq("região", "área"), minHits = 2).get
    // safra labels live a few rows below; current safra = last label (F8)
    val safraRow = grid.indexWhere(_.exists(_.startsWith("Safra ")))
    val safraLabels = grid(safraRow).filter(_.startsWith("Safra "))
      .map(_.stripPrefix("Safra "))
    val currentSafra = graft.functions.SafraOps.normalizeSafra(
      org.apache.spark.unsafe.types.UTF8String.fromString(safraLabels.last)).toString
    assert(currentSafra == "2025/26")

    // data rows: column 0 label; groups of 3 (prev, current, var) per
    // metric — area(1,2,3), produtividade(4,5,6), producao(7,8,9)
    val ufs = Dims.ufs.map(_._1).toSet
    val dataRows = grid.drop(safraRow + 1)
      .filter(r => r.nonEmpty && r.head.trim.nonEmpty)
    // P6 row classifier: UF rows vs region/total rows
    val ufRows = dataRows.filter(r => ufs.contains(r.head.trim))
    assert(ufRows.map(_.head.trim).toSet == ufs, "all 27 UFs classified")
    val rr = ufRows.find(_.head.trim == "RR").get
    assert(math.abs(rr(2).toDouble - 145.5) < 1e-9)  // area 25/26
    assert(math.abs(rr(8).toDouble - 479.4) < 1e-9)  // producao 25/26
    // relational wide-block melt over the extracted grid (R6)
    import spark.implicits._
    val long = Ingest.wideBlocksToLong(
      ufRows.map(r => Seq(r.head.trim) ++ r.slice(1, 10)), idCols = 1,
      groupKeys = Seq("area", "produtividade", "producao"),
      groupLabels = Seq(safraLabels.head, safraLabels.last, "var_pct"))
    val df = long.map { case Seq(uf, metric, safra, v) => (uf, metric, safra, v) }
      .toDF("uf", "metric", "safra_label", "v")
    assert(df.count() == 27 * 9)
  }

  test("conab_progresso/progresso_sample: section carry-forward XLSX matches expected.json") {
    val xlsx = s"$goldenDir/conab_progresso/progresso_sample.xlsx"
    assume(available(xlsx))
    val recs = graft.ingest.ConabProgresso.parseWorkbook(xlsx)
    // expected.json: total_records=8, culturas, operacoes, estados, safra, semana
    assert(recs.size == 8)
    assert(recs.map(_.cultura).distinct.sorted == Seq("Milho 2ª", "Soja"))
    assert(recs.map(_.operacao).distinct.sorted == Seq("Colheita", "Semeadura"))
    assert(recs.map(_.estado).distinct.sorted == Seq("GO", "MT", "PR"))
    assert(recs.forall(_.safra == "2025/26"))
    assert(recs.forall(_.semanaAtual == "2026-02-07"))
    assert(recs.count(r => r.cultura == "Soja" && r.operacao == "Semeadura") == 3)
    assert(recs.count(r => r.cultura == "Soja" && r.operacao == "Colheita") == 3)
    assert(recs.count(r => r.cultura == "Milho 2ª" && r.operacao == "Semeadura") == 2)
    val mt = recs.find(r =>
      r.cultura == "Soja" && r.operacao == "Colheita" && r.estado == "MT").get
    assert(math.abs(mt.pctSemanaAtual.get - 0.468) < 1e-9)
    // summary rows ("3 estados"), footnotes and parenthetical notes excluded
    assert(!recs.exists(_.estado.toLowerCase.contains("estado")))
  }

  test("mapbiomas/biome_state_sample: XLSX year-column melt (B6) on real data") {
    val xlsx = s"$goldenDir/mapbiomas/biome_state_sample.xlsx"
    assume(available(xlsx))
    import graft.ingest.Xlsx
    val names = Xlsx.sheetNames(xlsx)
    val grid = Xlsx.readSheet(xlsx, names.head)
    val header = grid.head
    assert(header.take(4) == Seq("ID", "country", "biome", "state"))
    val yearIdx = header.zipWithIndex.filter(_._1.matches("\\d{4}(\\.0)?"))
    assert(yearIdx.nonEmpty)
    val years = yearIdx.map { case (y, i) => (y.takeWhile(_.isDigit).toInt, i) }
    assert(Seq(1985, 2000, 2020, 2024).forall(y => years.exists(_._1 == y)))

    import spark.implicits._
    val classIdx = header.indexOf("class")
    val rows = grid.tail.flatMap { r =>
      years.map { case (y, i) =>
        (r(header.indexOf("biome")), r(header.indexOf("state")),
          r(classIdx), r(header.indexOf("class_level_0")), y,
          if (i < r.size && r(i).nonEmpty) r(i) else null)
      }
    }
    val long = rows.toDF("bioma", "estado_nome", "classe_id", "nivel_0", "ano", "area_raw")
      .filter(col("area_raw").isNotNull)
      .withColumn("area_ha", col("area_raw").cast("double"))
      .join(broadcast(Dims.ufLookup(spark)),
        G.stripAccents(lower(trim(col("estado_nome")))) === col("k"), "left")
      .withColumnRenamed("sigla", "estado")
    // expected.json cobertura: biomas {Amazônia, Cerrado}, estados
    // {AC, GO}, >=20 records
    assert(long.count() >= 20)
    assert(long.select("bioma").distinct().collect().map(_.getString(0)).toSet ==
      Set("Amazônia", "Cerrado"))
    assert(long.select("estado").distinct().collect().map(_.getString(0)).toSet ==
      Set("AC", "GO"))
    assert(long.filter(col("area_ha").isNull ||
      col("area_ha") < 0).count() == 0)

    // transicao sheet: period columns ("p1985_1986" -> "1985-1986")
    val grid2 = Xlsx.readSheet(xlsx, names(1))
    val header2 = grid2.head
    val periodIdx = header2.zipWithIndex
      .filter(_._1.matches("p?\\d{4}[-_]\\d{4}"))
      .map { case (p, i) => (p.stripPrefix("p").replace('_', '-'), i) }
    assert(Seq("1985-1986", "2023-2024").forall(p => periodIdx.exists(_._1 == p)))
    assert(grid2.tail.nonEmpty)
  }

  test("abiove/exportacao_sample: XLSX section blocks melted to monthly long") {
    val xlsx = s"$goldenDir/abiove/exportacao_sample/response.xlsx"
    assume(available(xlsx))
    import graft.ingest.Xlsx
    val grid = Xlsx.readSheet(xlsx, Xlsx.sheetNames(xlsx).head)
    val meses = Seq("Jan", "Fev", "Mar", "Abr", "Mai", "Jun", "Jul", "Ago",
      "Set", "Out", "Nov", "Dez").zipWithIndex.map { case (m, i) => m -> (i + 1) }.toMap
    def produtoOf(title: String): String = {
      val t = java.text.Normalizer.normalize(title.toLowerCase,
        java.text.Normalizer.Form.NFKD).replaceAll("\\p{M}", "")
      if (t.contains("total")) "total"
      else if (t.contains("farelo")) "farelo"
      else if (t.contains("oleo")) "oleo"
      else if (t.contains("milho") && !t.contains("soja + milho")) "milho"
      else if (t.contains("grao")) "grao"
      else "total"
    }
    def serialYear(s: String): Int = // Excel serial date -> year
      java.time.LocalDate.of(1899, 12, 30).plusDays(s.toDouble.toLong).getYear

    // column-1 sections (1., 1.1 … 1.5.x); heading-only blocks skip
    val titles = grid.zipWithIndex.collect {
      case (r, i) if r.size > 1 && r(1).matches("1(\\.\\d+)*\\. .*") => (i, r(1))
    }
    assert(titles.size >= 5, s"sections: ${titles.map(_._2)}")

    val long = titles.zipWithIndex.flatMap { case ((start, title), si) =>
      val end = titles.lift(si + 1).map(_._1).getOrElse(grid.size)
      val block = grid.slice(start, end)
      // the serial-date header row gives the (prev, cur) year columns;
      // heading-only blocks (no such row) contribute nothing
      val yearRowOpt = block.find(_.count(_.matches("\\d{5}")) >= 2)
      if (yearRowOpt.isEmpty) Seq.empty else {
      val yearCols = yearRowOpt.get.zipWithIndex.filter(_._1.matches("\\d{5}"))
        .map { case (s, i) => (serialYear(s), i) }
      val valorCols = yearCols.take(2)   // Valor FOB pair
      val volCols = yearCols.slice(2, 4) // volume pair
      block.filter(r => r.size > 1 && meses.contains(r(1).trim)).flatMap { r =>
        val mes = meses(r(1).trim)
        valorCols.zip(volCols).map { case ((ano, vi), (_, qi)) =>
          val receita = if (vi < r.size && r(vi).nonEmpty) r(vi).toDouble else Double.NaN
          val volMilT = if (qi < r.size && r(qi).nonEmpty) r(qi).toDouble else Double.NaN
          (ano, mes, produtoOf(title), volMilT * 1000, receita)
        }
      }
      }
    }
    // expected.json: >=72 rows, products {farelo, grao, milho, oleo, total}
    assert(long.size >= 72, s"got ${long.size}")
    assert(long.map(_._3).toSet == Set("farelo", "grao", "milho", "oleo", "total"))
    assert(long.forall { case (ano, mes, _, _, _) =>
      (ano == 2024 || ano == 2025) && mes >= 1 && mes <= 12 })
    assert(long.count(r => !r._4.isNaN) >= 72)
    // A2 on the melted data: monthly totals aggregate cleanly in Spark
    import spark.implicits._
    val agg = long.toDF("ano", "mes", "produto", "volume_ton", "receita_usd_mil")
      .groupBy("ano", "mes").agg(sum("volume_ton").as("vol"))
    assert(agg.count() == 24)
  }

  test("deral/pc_sample: legacy .xls crop-condition sheets melted to long") {
    val xls = s"$goldenDir/deral/pc_sample/response.xlsx" // OLE2 despite the name
    assume(available(xls))
    import graft.ingest.Biff
    val names = Biff.sheetNames(xls)
    assert(names.contains("Atual") && names.size >= 10)

    def noAcc(s: String) = java.text.Normalizer.normalize(s.toLowerCase,
      java.text.Normalizer.Form.NFKD).replaceAll("\\p{M}", "")
    def pct(s: String): Option[Double] =
      if (s.isEmpty || s == "-") None else s.toDoubleOption

    // melt every sheet: (produto, data?, condicao, pct, plantio, colheita)
    val long = names.flatMap { sheet =>
      val grid = Biff.readSheet(xls, sheet)
      val data = """(\d{2})-(\d{2})-(\d{2,4})""".r.findFirstMatchIn(sheet)
        .map { m =>
          val y = if (m.group(3).length == 2) "20" + m.group(3) else m.group(3)
          s"$y-${m.group(2)}-${m.group(1)}"
        }
      val hdr = grid.indexWhere(r => r.exists(_ == "Plantada") && r.exists(_ == "Boa"))
      if (hdr < 0) Seq.empty else {
        val h = grid(hdr)
        val iPlant = h.indexOf("Plantada"); val iColh = h.indexOf("Colhida")
        val iRuim = h.indexOf("Ruim"); val iMed = h.indexOf("Média")
        val iBoa = h.indexOf("Boa")
        grid.drop(hdr + 1)
          .filter(r => r.head.nonEmpty && !r.head.startsWith("SAFRA") &&
            pct(r(iPlant)).isDefined)
          .flatMap { r =>
            Seq(("boa", iBoa), ("media", iMed), ("ruim", iRuim)).map { case (cond, idx) =>
              (r.head, data.orNull, cond, pct(r(idx)),
                pct(r(iPlant)), pct(r(iColh)))
            }
          }
      }
    }
    // expected.json: >=168 rows, condicoes {boa, media, ruim}, produto non-null
    assert(long.size >= 168, s"got ${long.size}")
    assert(long.map(_._3).toSet == Set("boa", "media", "ruim"))
    assert(long.forall(_._1.nonEmpty))
    val soja = long.filter(r => noAcc(r._1).startsWith("soja") && r._2 == null &&
      r._3 == "boa")
    assert(soja.nonEmpty && soja.head._4.isDefined)
    // relational end: aggregate per condicao in Spark
    import spark.implicits._
    val agg = long.map(r => (r._1, r._3, r._4.getOrElse(Double.NaN)))
      .toDF("produto", "condicao", "pct")
      .groupBy("condicao").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(agg.keySet == Set("boa", "media", "ruim"))
    assert(agg.values.forall(_ >= 56))
  }

  test("comtrade/mirror_sample: trade mirror matches expected.json") {
    val dir = s"$goldenDir/comtrade/mirror_sample"
    assume(available(s"$dir/response_reporter.json"))

    def side(file: String) = {
      val parsed = spark.read.option("multiLine", "true")
        .json(s"$dir/$file")
        .select(explode(col("data")).as("r"))
        .select(
          col("r.period").cast("string").as("periodo"),
          col("r.cmdCode").cast("string").as("hs_code"),
          col("r.cmdDesc").as("produto_desc"),
          col("r.netWgt").cast("double").as("peso_liquido_kg"),
          col("r.fobvalue").cast("double").as("valor_fob_usd"),
          col("r.cifvalue").cast("double").as("valor_cif_usd"))
        .withColumn("volume_ton", col("peso_liquido_kg") / 1000.0)
      parsed
    }
    val rep = side("response_reporter.json")
      .select(col("periodo"), col("hs_code"), col("produto_desc"),
        col("peso_liquido_kg").as("peso_liquido_kg_reporter"),
        col("valor_fob_usd").as("valor_fob_usd_reporter"),
        col("volume_ton").as("volume_ton_reporter"))
    val par = side("response_partner.json")
      .select(col("periodo"), col("hs_code"),
        col("peso_liquido_kg").as("peso_liquido_kg_partner"),
        col("valor_fob_usd").as("valor_fob_usd_partner"),
        col("valor_cif_usd").as("valor_cif_usd_partner"),
        col("volume_ton").as("volume_ton_partner"))
    val mirror = rep.join(par, Seq("periodo", "hs_code"), "full_outer")
      .withColumn("reporter_iso", lit("BRA"))
      .withColumn("partner_iso", lit("CHN"))
      .withColumn("ano", substring(col("periodo"), 1, 4).cast("int"))
      .withColumn("mes", when(length(col("periodo")) >= 6,
        substring(col("periodo"), 5, 2).cast("int")))
      .withColumn("diff_peso_kg",
        col("peso_liquido_kg_reporter") - col("peso_liquido_kg_partner"))
      .withColumn("diff_valor_fob_usd",
        col("valor_fob_usd_reporter") - col("valor_fob_usd_partner"))
      .withColumn("ratio_valor", col("valor_fob_usd_reporter") /
        when(col("valor_cif_usd_partner") === 0, lit(null))
          .otherwise(col("valor_cif_usd_partner")))
      .withColumn("ratio_peso", col("peso_liquido_kg_reporter") /
        when(col("peso_liquido_kg_partner") === 0, lit(null))
          .otherwise(col("peso_liquido_kg_partner")))
      .orderBy("periodo", "hs_code")
    val rows = mirror.collect()
    // expected.json: record_count=4; first row 2024/1201 with the
    // published weights/ratios; fob_partner and diff_valor are null
    assert(rows.length == 4)
    val f = rows.head
    assert(f.getAs[String]("periodo") == "2024")
    assert(f.getAs[String]("hs_code") == "1201")
    assert(f.getAs[Int]("ano") == 2024 && f.isNullAt(mirror.columns.indexOf("mes")))
    assert(f.getAs[Double]("peso_liquido_kg_reporter") == 7.2557710367e10)
    assert(f.getAs[Double]("valor_fob_usd_reporter") == 3.1499887711e10)
    assert(math.abs(f.getAs[Double]("volume_ton_reporter") - 7.2557710367e7) < 1e-6)
    assert(f.isNullAt(mirror.columns.indexOf("valor_fob_usd_partner")))
    assert(f.isNullAt(mirror.columns.indexOf("diff_valor_fob_usd")))
    assert(f.getAs[Double]("diff_peso_kg") == -2.089669638e9)
    assert(math.abs(f.getAs[Double]("ratio_valor") - 0.8640573168224439) < 1e-12)
    assert(math.abs(f.getAs[Double]("ratio_peso") - 0.9720061221457467) < 1e-12)
  }
}
