package graft.functions

import org.apache.spark.sql.SparkSession

/** The one spec that builds its own session: registering
  * [[graft.GraftExtensions]] needs `withExtensions` on a fresh session.
  */
class GraftExtensionsSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("vec_dot / vec_cosine register via SparkSessionExtensions and run in SQL") {
    // getOrCreate reuses an active session and would skip extensions —
    // detach the shared one first, build a fresh session (same
    // SparkContext) with extensions, restore after.
    val shared = graft.SparkSpec.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    try {
      import spark.implicits._
      Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b").createOrReplaceTempView("v")
      val row = spark.sql("SELECT vec_dot(a, b) AS d, vec_cosine(a, a) AS c FROM v").head()
      assert(row.getDouble(0) == 32.0)
      assert(math.abs(row.getDouble(1) - 1.0) < 1e-12)
      val err = intercept[Exception](spark.sql("SELECT vec_dot(a) FROM v").collect())
      assert(err.getMessage.toLowerCase.contains("two arguments") ||
        err.getMessage.toLowerCase.contains("vec_dot"))
      // composed text functions reach SQL with the same trees as the
      // Column API
      Seq(Tuple1("the cat sat on the mat and it was happy"))
        .toDF("text").createOrReplaceTempView("t")
      val tr = spark.sql(
        "SELECT graft_token_count(text) AS n, graft_lang_id(text) AS l, " +
          "graft_quality_score(text) AS q, graft_doc_fingerprint(text) AS fp FROM t").head()
      assert(tr.getLong(0) == 10L)
      assert(tr.getString(1) == "en")
      assert(tr.getDouble(2) >= 0.0 && tr.getDouble(2) <= 1.0)
      assert(tr.getString(3).length == 32) // md5 hex
      // 2-arg form: caller-supplied stopword array
      val q2 = spark.sql(
        "SELECT graft_quality_score(text, array('cat', 'mat')) AS q FROM t").head().getDouble(0)
      assert(q2 >= 0.0 && q2 <= 1.0)
      val errQ = intercept[Exception](
        spark.sql("SELECT graft_quality_score(text, text) FROM t").collect())
      assert(errQ.getMessage.toLowerCase.contains("literal") ||
        errQ.getMessage.toLowerCase.contains("stopwords"))
      // CMS merge + point query reach SQL (q196's expressions)
      Seq((1L, 7L), (1L, 7L), (2L, 7L), (2L, 9L)).toDF("g", "u")
        .createOrReplaceTempView("cms_t")
      val cmsRow = spark.sql(
        """SELECT cms_estimate(cms_merge_all(sks), 7L) AS e7,
          |       cms_estimate(cms_merge_all(sks), 9L) AS e9 FROM (
          |  SELECT collect_list(cms) AS sks FROM (
          |    SELECT count_min_sketch(u, 0.001d, 0.99d, 42) AS cms
          |    FROM cms_t GROUP BY g))""".stripMargin).head()
      assert(cmsRow.getLong(0) >= 3L && cmsRow.getLong(1) >= 1L,
        s"CMS SQL path must be one-sided: $cmsRow")
    } finally {
      spark.catalog.dropTempView("v")
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
