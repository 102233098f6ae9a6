package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SparkSessionExtensions injection path: a session built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` gets every
  * custom function in SQL without any imperative registration, and a
  * Contract casts an inferred frame to its declared schema.
  */
class ExtensionsSpec extends AnyFunSuite {

  /** Runs `f` on a FRESH session (same SparkContext) built only with
    * [[graft.functions.GraftExtensions]], so resolution must come from
    * the injected extensions, not any temp registration on the shared
    * test session.
    */
  private def withExtensionSession[T](f: SparkSession => T): T = {
    SparkSuite.session // ensure the context exists
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // `.config("spark.sql.extensions", ...)` is a STATIC conf: it only
      // applies when the SparkContext itself is created (i.e. in a fresh
      // JVM / spark-submit). Against an existing context, the
      // programmatic builder path is the supported route:
      val s = SparkSession.builder().master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions)
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      assert(s ne SparkSuite.session, "must be a fresh session")
      f(s)
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("extensions inject SQL functions at session build") {
    withExtensionSession { s =>
      val r = s.sql(
        """SELECT parse_br_decimal('9,75') AS d, strip_accents('Paraná') AS p,
                  safra_of(DATE '2023-12-01') AS sf""").collect()(0)
      assert(r.getDecimal(0).toString == "9.7500")
      assert(r.getString(1) == "Parana")
      assert(r.getString(2) == "2023/24")

      // literals fold away entirely (expressions are foldable) …
      val folded = s.sql("SELECT strip_accents(strip_accents('São')) AS x")
      assert(folded.collect()(0).getString(0) == "Sao")
      // … and over a file-backed column (LocalRelations also fold) the
      // idempotence rule collapses the chain to a single call
      val nation = s.read.parquet("/root/testdata/sf0.001/nation.parquet")
      val doubled = nation.selectExpr("strip_accents(strip_accents(n_name)) AS x")
      val optimized = doubled.queryExecution.optimizedPlan.toString
      assert("strip_accents".r.findAllIn(optimized).size == 1,
        s"expected one strip_accents after optimization:\n$optimized")
      assert(doubled.count() == nation.count())
    }
  }

  test("every catalogue function resolves in a session built only with the extensions") {
    val names = graft.functions.GraftFunctions.catalogue.map(_._1)
    val missing = withExtensionSession(s => names.filterNot(n =>
      s.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(n))))
    assert(missing.isEmpty, s"catalogue names the extensions never inject: $missing")
    val r = withExtensionSession(_.sql(
      "SELECT gzip_ratio('aaaaaaaaaaaaaaaa') > 0 AS g, media_dims(X'0000') AS m")
      .collect()(0))
    assert(r.getBoolean(0) && r.isNullAt(1))
  }

  test("contract castTo: declared order, try_cast, typed null fill") {
    import org.apache.spark.sql.types._
    val s = SparkSuite.session
    import s.implicits._
    val inferred = Seq(("1", "abc", "x"), ("2", "3.5", "y"))
      .toDF("id", "valor", "extra")
    val c = graft.validate.Contract("t", "1", Seq(
      graft.validate.ColumnSpec("id", LongType, nullable = false),
      graft.validate.ColumnSpec("valor", DoubleType),
      graft.validate.ColumnSpec("obs", StringType)))
    val out = c.castTo(inferred)
    assert(out.schema.fieldNames.toSeq == Seq("id", "valor", "obs"))
    assert(out.schema("valor").dataType == DoubleType)
    val rows = out.orderBy("id").collect()
    assert(rows(0).getLong(0) == 1L && rows(0).isNullAt(1)) // 'abc' try_cast -> null
    assert(rows(1).getDouble(1) == 3.5)
    assert(rows(0).isNullAt(2)) // missing declared column -> typed null
  }

  test("a pre-existing user function shadows graft's SQL name (user wins, logged, rest register)") {
    // fresh session: the shared one already carries graft's registry
    val s = SparkSuite.session.newSession()
    s.udf.register("hash64", (x: String) => 777L)
    val foreign = graft.functions.GraftFunctions.register(s)
    assert(foreign == Seq("hash64"))
    // the user's registration wins — graft must NOT replace it
    assert(s.sql("SELECT hash64('abc') AS h").collect()(0).getLong(0) == 777L)
    // every name the user did not claim registers normally
    assert(s.sql("SELECT strip_accents('Paraná') AS p")
      .collect()(0).getString(0) == "Parana")
    assert(s.sql("SELECT simhash64('a b c') IS NOT NULL AS ok")
      .collect()(0).getBoolean(0))
  }

  test("a user function with NO recorded owner class is still reported as a foreign shadow") {
    // ExpressionInfo with an empty class name is exactly the case a
    // bare null/empty => graft-owned rule silently swallowed: the user
    // claimed the name, graft must not treat the blank owner as its own
    val s = SparkSuite.session.newSession()
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("hash64")
    s.sessionState.functionRegistry.registerFunction(
      id,
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("", "hash64"),
      exprs => org.apache.spark.sql.catalyst.expressions.Literal(888L))
    val foreign = graft.functions.GraftFunctions.register(s)
    assert(foreign == Seq("hash64"), "blank-owner user function must be logged as foreign")
    // and the user's registration still wins
    assert(s.sql("SELECT hash64('abc') AS h").collect()(0).getLong(0) == 888L)
    // a clean fresh session reports nothing foreign
    assert(graft.functions.GraftFunctions.register(SparkSuite.session.newSession()).isEmpty)
  }
}
