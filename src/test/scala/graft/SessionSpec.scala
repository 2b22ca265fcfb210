package graft

import org.apache.spark.sql.SparkSession

/** What every session [[Session.build]] makes carries: the graft SQL
  * functions and UTC always, the plan guards only when asked, and the
  * pinned core count and warehouse it is given. The shared test session
  * (unguarded) and [[TestSpark.withGuardedSession]]'s (guarded) both
  * come from the builder.
  */
class SessionSpec extends SparkSpec {

  private def hexSlice(s: SparkSession): Long =
    s.sql("SELECT hex_slice_to_long(md5('graft'), 1, 8)").head().getLong(0)

  private def cartesian(s: SparkSession): Long =
    s.sql("SELECT a.id, b.id FROM range(3) a, range(3) b").count()

  test("the graft SQL functions resolve on every session, guarded or not") {
    val plain = hexSlice(spark)
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest("graft".getBytes("UTF-8"))
    assert(plain == BigInt(1, md5.take(4)).toLong) // the first 8 hex digits
    TestSpark.withGuardedSession(g => assert(hexSlice(g) == plain))
  }

  test("a comma-cartesian is refused only on a guarded session") {
    assert(cartesian(spark) == 9L)
    TestSpark.withGuardedSession { g =>
      val e = intercept[graft.plans.PlanGuards.GuardViolation](cartesian(g))
      assert(e.getMessage.contains(graft.plans.PlanGuards.AllowCartesianKey))
    }
  }

  test("every session runs in UTC") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    TestSpark.withGuardedSession(g =>
      assert(g.conf.get("spark.sql.session.timeZone") == "UTC"))
  }

  test("pinned cores give local[n], n shuffle partitions and no UI") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    TestSpark.withGuardedSession(g =>
      assert(g.conf.get("spark.sql.shuffle.partitions") == "4"))
  }

  test("the warehouse holds the session's default database") {
    def location(s: SparkSession) = s.catalog.getDatabase("default").locationUri
    assert(location(spark).contains("/target/test-warehouse-"))
    TestSpark.withGuardedSession(g =>
      assert(location(g).contains("/target/test-warehouse-guarded-")))
  }
}
