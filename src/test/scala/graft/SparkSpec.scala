package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (warehouse under target/). */
object TestSpark {
  /** sbt forks test JVMs from the build root — never hard-code the
    * checkout path (round-15 verdict item 8's defect class). */
  val repoRoot: String = sys.props("user.dir")

  lazy val spark: SparkSession = Session.build(Some(4),
    Some(s"$repoRoot/target/test-warehouse-${System.nanoTime()}"), guards = false)

  /** Runs `f` with a session carrying the [[graft.plans.GraftGuards]]
    * extensions — the session the CLI (`Main`, `Demo`) runs on. Check
    * rules inject at session CREATION, so the guarded session is built
    * fresh: only the SparkContext is shared — the guarded session gets
    * a fresh SharedState, a fresh in-memory catalog, and its own
    * warehouse dir (so its managed tables never collide with the
    * shared session's) — and the shared session is restored afterwards
    * so other suites are unaffected.
    */
  def withGuardedSession(f: SparkSession => Unit): Unit = {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // fresh SharedState → fresh in-memory catalog; the warehouse
      // must be fresh too, or CREATE TABLE collides with the shared
      // session's managed-table locations it cannot see
      val guarded = Session.build(Some(4),
        Some(s"$repoRoot/target/test-warehouse-guarded-${System.nanoTime()}"),
        guards = true)
      try f(guarded)
      finally {
        guarded.conf.unset(graft.plans.PlanGuards.AllowCartesianKey)
        guarded.conf.unset(graft.plans.PlanGuards.AllowGlobalWindowKey)
      }
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
