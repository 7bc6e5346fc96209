package graft

import graft.tools.Profile
import org.scalatest.funsuite.AnyFunSuite

/** The profiler's layers must account for each run's wall time, and a
  * mistyped query name must fail rather than profile nothing. */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("a profiled run splits its wall time into plan, job union and driver gap") {
    val runs = Profile.profile(spark, TestSession.sf, "q01_pricing_summary", 2)
    assert(runs.size == 2)
    runs.foreach { r =>
      assert(r.optimizeMs + r.physicalMs > 0 && r.topRules.nonEmpty)
      assert(r.jobs >= 1 && r.jobUnionMs > 0)
      assert(r.stages.exists(_.tasks >= 1), s"no stage with a task: ${r.stages}")
      val parts = r.buildMs + r.optimizeMs + r.physicalMs + r.jobUnionMs
      assert(r.driverGapMs >= 0 && parts + r.driverGapMs == r.wallMs,
        s"build + optimize + physical + job union = $parts ms against a wall of ${r.wallMs} ms")
    }
  }

  test("an unknown query name throws") {
    assertThrows[IllegalArgumentException](
      Profile.profile(spark, TestSession.sf, "no_such_query", 1))
  }
}
