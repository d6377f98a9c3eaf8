package graft

/** The SQL function surface `GraftExtensions` registers. */
class MetricsSpec extends SparkSuite {

  test("SQL function registration: extensions surface works in spark.sql") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT normalize_ascii('Tavaszi Szél') AS n,
                py_title('miku''s song') AS t,
                cp_to_utf16('a🎵b', 2) AS u,
                utf16_to_cp('a🎵b', 3) AS c""").head
    assert(r.getString(0) == "Tavaszi Szel")
    assert(r.getString(1) == "Miku'S Song")
    assert(r.getInt(2) == 3)
    assert(r.getInt(3) == 2)
  }
}
