package graft

import org.scalatest.funsuite.AnyFunSuite

/** ProfileJobs' driver/plan gap is wall time minus the UNION of job
  * intervals: overlapping jobs count once, so the gap never goes
  * negative the way wall minus the sum of durations did. */
class ProfileJobsSpec extends AnyFunSuite {

  test("coveredMillis: overlapping and nested intervals count once") {
    // two jobs overlap by 50 ms, a third nests inside the second,
    // a fourth stands apart
    val jobs = Seq((0L, 100L), (50L, 150L), (60L, 90L), (200L, 250L))
    assert(ProfileJobs.coveredMillis(jobs) === 200L)
    assert(jobs.map { case (s, e) => e - s }.sum === 280L)
    // a 220 ms wall: the old sum-of-durations gap is -60 ms, the union's
    // gap stays non-negative
    assert(220L - ProfileJobs.coveredMillis(jobs) === 20L)
  }

  test("coveredMillis: order-independent; touching, empty and unfinished intervals") {
    assert(ProfileJobs.coveredMillis(Nil) === 0L)
    assert(ProfileJobs.coveredMillis(Seq((200L, 250L), (0L, 100L))) === 150L)
    assert(ProfileJobs.coveredMillis(Seq((0L, 100L), (100L, 130L))) === 130L)
    // a job whose end event never arrived (end 0) contributes nothing
    assert(ProfileJobs.coveredMillis(Seq((500L, 0L), (0L, 10L))) === 10L)
  }
}
