package graft

import org.apache.spark.sql.functions._

/** The SQL-facing function surface: registered scalars behave exactly
  * like their Scala ports from spark.sql text.
  */
class SqlSurfaceSpec extends SparkSpec {

  test("registered functions work from spark.sql") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT
        |  cosine_similarity(array(1d, 0d), array(1d, 0d)) AS cos,
        |  url_canonicalize('https://HOST.x:443/a/') AS canon,
        |  url_host('https://a.b.c/x') AS host,
        |  is_public_ip('10.0.0.1') AS priv,
        |  is_public_ip('8.8.8.8') AS pub,
        |  sanitize_filename('/tmp/evil.pdf') AS name,
        |  to_inches('72pt') AS inches,
        |  normalize_domain('*.Example.COM') AS dom,
        |  url_canonicalize(CAST(NULL AS STRING)) AS canon_null
        |""".stripMargin).collect()(0)
    assert(row.getDouble(0) === 1.0)
    assert(row.getString(1) === "https://host.x/a")
    assert(row.getString(2) === "a.b.c")
    assert(!row.getBoolean(3) && row.getBoolean(4))
    assert(row.getString(5) === "evil.pdf")
    assert(row.getDouble(6) === 1.0)
    assert(row.getString(7) === "example.com")
    assert(row.isNullAt(8))
  }

  test("cosine_similarity via registry is the native expression (codegen plan)") {
    GraftFunctions.register(spark)
    val df = spark.range(10)
      .withColumn("a", array(col("id").cast("double"), lit(1.0)))
      .withColumn("b", array(lit(2.0), col("id").cast("double")))
      .selectExpr("cosine_similarity(a, b) AS c")
    assert(df.queryExecution.executedPlan.toString().contains("cosine_similarity"))
    assert(df.count() === 10)
  }

  test("simhash64 / word_shingles / sq8_round_trip via registry are the native expressions") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT
        |  simhash64('the quick brown fox') AS sig,
        |  word_shingles('a b c', 2) AS sh,
        |  sq8_round_trip(array(0.0D, 1.0D, 2.0D)) AS q
        |""".stripMargin).collect()(0)
    assert(row.getLong(0) === graft.datatools.Dedup.simhash64("the quick brown fox"))
    assert(row.getSeq[String](1) === Seq("a b", "b c"))
    // exact round-trip semantics: scale = 2/255, midpoint 1.0 lands on
    // code 128 (127.5 + 0.5 floors up), endpoints are exact
    val sc = 2.0 / 255.0
    assert(row.getSeq[Double](2) === Seq(0.0, math.floor(1.0 / sc + 0.5) * sc, 2.0))
    // the SQL path is the codegen expression, not a UDF wrapper
    val plan = spark.range(10)
      .selectExpr("simhash64(cast(id AS string)) AS s")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("simhash64") && !plan.contains("BatchEvalPython"))
  }

  test("fused text scalars + md5_number_lower available from SQL") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT
        |  lang_id('the cat and the dog of the house') AS lang,
        |  token_count('  a b   c ') AS toks,
        |  md5_number_lower('abc') AS h
        |""".stripMargin).collect()(0)
    assert(row.getString(0) === "en")
    assert(row.getInt(1) === 3)
    // 8250560606382298838 = DuckDB SELECT md5_number_lower('abc')
    assert(row.getLong(2) === 8250560606382298838L)
  }

  test("markdown_to_html matches the Scala port") {
    GraftFunctions.register(spark)
    val html = spark.sql("SELECT markdown_to_html('# T\\n\\n**b**') AS h")
      .collect()(0).getString(0)
    assert(html === graft.functions.TextFunctions.markdownToHtml("# T\n\n**b**"))
    assert(html.contains("<h1>T</h1>"))
  }
}
