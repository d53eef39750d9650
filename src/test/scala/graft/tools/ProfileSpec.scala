package graft.tools

import graft.SparkSuite

/** The profiler's counts come from `Metrics.instrumented`'s drained
  * listener and its construction-jobs reading from the scheduler's
  * synchronous counter: both must be complete when a rep returns, and
  * equal across reps of the same warm query. */
class ProfileSpec extends SparkSuite {

  test("two reps of q17_tpch_q1 read the same counts; the memo hit runs no construction job") {
    val Seq(r1, r2) = Profile.run(spark, "/root/testdata/sf0.001", Seq("q17_tpch_q1"), 2)
    assert(r1.jobs >= 1 && r1.tasks >= 1 && r1.exec > 0, r1)
    assert(r1.rows > 0 && r1.stages >= 1, r1)
    assert((r2.jobs, r2.tasks) === ((r1.jobs, r1.tasks)))
    assert(r2.constructJobs === 0L, "a memo hit must construct without jobs")
  }
}
