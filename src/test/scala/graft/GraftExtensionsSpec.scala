package graft

import graft.SparkSpec

/** SQL-surface registration of graft's native expressions. */
class GraftExtensionsSpec extends SparkSpec {

  test("array_dot is callable from SQL after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT array_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .head()
    assert(r.getDouble(0) == 32.0)
    // float arrays too (the storage element type)
    val rf = spark.sql(
      "SELECT array_dot(array(CAST(1.5 AS FLOAT)), array(CAST(2.0 AS FLOAT))) AS d")
      .head()
    assert(rf.getDouble(0) == 3.0)
    // null element → null (zip_with parity)
    val rn = spark.sql(
      "SELECT array_dot(array(1.0D, NULL), array(1.0D, 1.0D)) AS d").head()
    assert(rn.isNullAt(0))
  }

  test("hamming_distance is callable from SQL; length mismatch → null") {
    GraftFunctions.register(spark)
    assert(spark.sql(
      "SELECT hamming_distance('1010', '1001') AS d").head().getInt(0) == 2)
    assert(spark.sql(
      "SELECT hamming_distance('abc', 'abc') AS d").head().getInt(0) == 0)
    assert(spark.sql(
      "SELECT hamming_distance('10', '100') AS d").head().isNullAt(0))
  }

  test("a new session of the factory's context resolves the injected " +
    "functions without registration, and carries the factory config") {
    // newSession() gets the spark.sql.extensions functions, never the
    // ones registered imperatively on another session
    val fresh = spark.newSession()
    assert(fresh.sql("SELECT array_dot(array(1.0D, 2.0D), " +
      "array(3.0D, 4.0D)) AS d").head().getDouble(0) == 11.0)
    assert(fresh.sql("SELECT hamming_distance('1010', '1001') AS d")
      .head().getInt(0) == 2)
    assert(fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(fresh.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("bloom_agg + bloom_might_contain: no false negatives, few positives") {
    GraftFunctions.register(spark)
    spark.range(100)
      .selectExpr("bloom_agg(xxhash64(id), 100L) AS bf")
      .createOrReplaceTempView("bfv")
    // every inserted key hits (bloom guarantee: zero false negatives)
    val hits = spark.sql(
      """SELECT count(*) FROM range(200)
        |WHERE bloom_might_contain((SELECT bf FROM bfv), xxhash64(id))"""
        .stripMargin).head().getLong(0)
    assert(hits >= 100L, s"false negatives: only $hits of 100 inserted hit")
    // ...and the 100 non-members mostly miss (default ~3% fpp)
    assert(hits <= 120L, s"false-positive rate blown: $hits")
  }
}
