package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The library session builder must yield a session that (a) reads the
  * ns-timestamp events table without the caller knowing about the legacy
  * conf and (b) has the native SQL functions registered.
  */
class GraftSessionSpec extends AnyFunSuite {
  import SparkTestSession.sfDir

  // the shared test session is built by GraftSession.local on builder()
  test("GraftSession.builder() reads events and exposes vec_dot/vec_sq_dist in SQL") {
    val s = SparkTestSession.spark
    assert(Tables.events(s, sfDir).limit(5).count() == 5)
    import s.implicits._
    Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
      .createOrReplaceTempView("graft_session_v")
    val r = s.sql(
      "SELECT vec_dot(a, b) AS d, vec_sq_dist(a, b) AS sq FROM graft_session_v").collect()
    assert(r(0).getDouble(0) == 11.0 && r(0).getDouble(1) == 8.0)
  }

  test("Tables.events adapts to the observed ts encoding without mutating session conf") {
    val base = SparkTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // A session WITHOUT the legacy nanos conf must still load the current
      // testdata generation (micros TIMESTAMP_NTZ), normalize ts to the
      // session-time-zone TIMESTAMP type, and leave the conf untouched —
      // dispatch is on the observed schema, not on session state.
      val bare = SparkSession.builder()
        .config("spark.sql.session.timeZone", "UTC").getOrCreate()
      bare.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      val df = Tables.events(bare, sfDir)
      assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      assert(df.limit(1).count() == 1)
      assert(bare.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("Tables.registerAll exposes the whole catalog to spark.sql, loaders applied") {
    import SparkTestSession.{spark, sfDir}
    Tables.registerAll(spark, sfDir)
    Tables.all.foreach { case (name, load) =>
      assert(spark.sql(s"SELECT count(*) AS n FROM $name").collect()(0).getLong(0) ==
        load(spark, sfDir).count(), s"view $name diverges from its loader")
    }
    // cross-view join runs, and the events view carries the NORMALIZED ts
    // type (the loader ran, not a raw parquet read)
    assert(spark.table("events").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val n = spark.sql(
      "SELECT count(*) AS n FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey")
      .collect()(0).getLong(0)
    assert(n > 0)
  }
}
