package graft

import org.apache.spark.sql.SparkSession
import graft.engine.Conf

/** The spark.sql.extensions packaging path: a session built with
  * GraftExtensions resolves float_dot/quant_dot in pure SQL, no
  * imperative registration. */
class GraftExtensionsSpec extends SparkSpec {

  test("injected functions resolve in SQL on an extensions-built session") {
    spark // force the shared session (and its context) to exist first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = Conf.builder(4, "graft-extensions")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = s.sql(
        """SELECT quant_dot(array(CAST(0.5 AS FLOAT)), array(CAST(0.5 AS FLOAT))) AS q,
          |       float_dot(array(CAST(0.5 AS FLOAT)), array(CAST(0.5 AS FLOAT))) AS f,
          |       strip_accents('résumé naïve çà') AS sa,
          |       strip_accents('ascii only') AS id,
          |       strip_accents(CAST(NULL AS STRING)) AS nl""".stripMargin)
        .head
      assert(r.getLong(0) == 5000L * 5000L)
      assert(math.abs(r.getDouble(1) - 0.25) < 1e-12)
      assert(r.getString(2) == "resume naive ca")
      assert(r.getString(3) == "ascii only")
      assert(r.isNullAt(4))
      // decomposed input (e + combining acute) folds the same way, and
      // the codegen'd path over a column agrees with interpreted eval
      import s.implicits._
      val decomposed = "quéry" // 'e' + U+0301
      val viaCol = Seq(decomposed).toDF("t")
        .selectExpr("strip_accents(t) AS c").head.getString(0)
      assert(viaCol == "query")
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}
