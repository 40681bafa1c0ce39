package graft.streaming

import graft.SparkSpec

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("custom expressions callable from SQL after registration") {
    graft.GraftExtensions.register(spark)
    Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
      .createOrReplaceTempView("vecs")
    val r = spark.sql(
      """SELECT graft_dot(a, b) AS d,
        |       graft_hyperplane_sig(a, 8) AS sig,
        |       graft_equal_positions(array(1L, 2L), array(1L, 9L)) AS eq
        |FROM vecs""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getLong(2) == 1L)
    // sig is deterministic
    val again = spark.sql("SELECT graft_hyperplane_sig(a, 8) FROM vecs").head()
    assert(r.getLong(1) == again.getLong(0))
    // COPY value policies reachable from SQL too
    val c = spark.sql(
      """SELECT graft_utf8_truncate('héllo', 3) AS t,
        |       graft_utf8_sanitize(cast(unhex('41C328') AS STRING)) AS s,
        |       graft_utf8_sanitize(cast(unhex('41C328') AS STRING), '_') AS s2
        |""".stripMargin).head()
    assert(c.getString(0) == "hé")
    assert(c.getString(1) == "A?(")
    assert(c.getString(2) == "A_(")
  }
}
