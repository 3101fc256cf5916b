package graft

import graft.functions.{UrlExprs, UrlFunctions}
import org.apache.spark.sql.functions._

/** Pins the native URL codegen expressions to the Scala functions the
  * reference model uses (and the host expression also to its regex
  * Column twin) over the crawl's URL domain, and asserts codegen
  * participation.
  */
class UrlExprParitySpec extends SparkSpec {

  private lazy val urls = {
    import spark.implicits._
    val uni = graft.sources.SyntheticWeb.Universe(numHosts = 40, pagesPerHost = 50, seed = 11L)
    val crawlish = (0 until 2000).flatMap { i =>
      val u = uni.seedUrl(i).url
      u +: uni.outlinksOf(UrlFunctions.canonicalizeUrl(u))
    }
    val edges = Seq(
      "https://HOST.x:443/a/", "http://h:80/", "https://h:8443/p?q=1#frag",
      " https://pad.me/x ", "not a url", "", "ftp://f/x", "https://h")
    (crawlish ++ edges).toDF("url")
  }

  test("CanonicalizeUrlExpr == Scala twin on the crawl domain") {
    val scalaUdf = udf(UrlFunctions.canonicalizeUrl _)
    val diff = urls
      .withColumn("e", UrlExprs.canonicalize(col("url")))
      .withColumn("s", scalaUdf(col("url")))
      .filter(col("e") =!= col("s"))
    assert(diff.count() === 0, diff.take(5).mkString("; "))
  }

  test("HostOfExpr == Scala twin == regex Column twin") {
    val scalaUdf = udf(UrlFunctions.hostOf _)
    val diff = urls
      .withColumn("e", UrlExprs.host(col("url")))
      .withColumn("s", scalaUdf(col("url")))
      .withColumn("r", UrlFunctions.hostOfCol(col("url")))
      .filter(col("e") =!= col("s") || col("e") =!= col("r"))
    assert(diff.count() === 0, diff.take(5).mkString("; "))
  }

  test("both expressions participate in whole-stage codegen") {
    // range source: a local Seq would fold into a LocalTableScan
    val df = spark.range(100)
      .withColumn("url", concat(lit("https://HOST"), col("id"), lit(".x:443/p/")))
      .select(
        UrlExprs.canonicalize(col("url")).as("c"),
        UrlExprs.host(col("url")).as("h"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.linesIterator.next().trim.startsWith("*"), plan)
    assert(!plan.contains("CodegenFallback"), plan)
    assert(df.where(col("c") === concat(lit("https://host"), col("h").substr(lit(5), lit(100))))
      .count() >= 0) // force execution through the generated code
  }
}
