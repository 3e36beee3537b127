package graft

/** The policy `Session.local` gives the shared test session. */
class SessionSpec extends SparkSpec {

  test("Session.local registers the extensions and sets UTC, nanosAsLong and the partitions") {
    val c = spark.sql("select cosine_similarity(array(1.0D), array(1.0D))").head().getDouble(0)
    assert(c == 1.0, "GraftExtensions must register cosine_similarity")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
