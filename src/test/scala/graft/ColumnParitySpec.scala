package graft

import graft.functions.UrlFunctions
import org.apache.spark.sql.functions._

/** Every scalar that exists both as a pure Scala function and as a
  * Column expression must agree — the docstring contract in
  * UrlFunctions. Checked over a generated URL corpus that covers the
  * canonicalization noise classes.
  */
class ColumnParitySpec extends SparkSpec {

  private def urlCorpus: Seq[String] = {
    val hosts = Seq("a.test", "UPPER.test", "h0.example.com", "x")
    val schemes = Seq("http", "https", "HTTP")
    val ports = Seq("", ":80", ":443", ":8080")
    val paths = Seq("", "/", "/p", "/p/", "/a/b?q=1", "/a?x=1&y=2")
    for {
      s <- schemes; h <- hosts; p <- ports; path <- paths
    } yield s"$s://$h$p$path"
  }

  test("hostOfCol matches hostOf") {
    import spark.implicits._
    val scalaUdf = udf(UrlFunctions.hostOf _)
    val diff = urlCorpus.toDF("url")
      .withColumn("a", UrlFunctions.hostOfCol(col("url")))
      .withColumn("b", scalaUdf(col("url")))
      .filter(col("a") =!= col("b")).collect()
    assert(diff.isEmpty, diff.map(_.toString).mkString("\n"))
  }

  test("statusMatchesCol matches statusMatches for all statuses and code sets") {
    import spark.implicits._
    val codeSets = Seq(Seq(499, 599), Seq(404), Seq(199, 404), Seq.empty[Int])
    codeSets.foreach { codes =>
      val scalaSide = (0 to 700).map(s => s -> UrlFunctions.statusMatches(s, codes)).toMap
      val colSide = (0 to 700).toDF("status")
        .withColumn("m", UrlFunctions.statusMatchesCol(col("status"), codes))
        .collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap
      assert(colSide === scalaSide, s"codes=$codes")
    }
  }

  test("hostSaltCol matches hostSalt") {
    import spark.implicits._
    val rows = urlCorpus.map { u =>
      val c = UrlFunctions.canonicalizeUrl(u)
      (UrlFunctions.hostOf(c), UrlFunctions.urlHash(c))
    }
    val salts = 4
    val scalaSide = rows.map { case (h, uh) => UrlFunctions.hostSalt(h, uh, salts) }
    val colSide = rows.toDF("host", "url_hash")
      .withColumn("s", UrlFunctions.hostSaltCol(col("host"), col("url_hash"), salts))
      .collect().map(_.getInt(2)).toSeq
    assert(colSide === scalaSide)
  }

  test("urlHashCol matches urlHash") {
    import spark.implicits._
    val canons = urlCorpus.map(UrlFunctions.canonicalizeUrl)
    val colSide = canons.toDF("c")
      .withColumn("h", UrlFunctions.urlHashCol(col("c")))
      .collect().map(_.getLong(1)).toSeq
    assert(colSide === canons.map(UrlFunctions.urlHash))
  }
}
