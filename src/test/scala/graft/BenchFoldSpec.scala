package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate-baseline fold is what every round's perf verdict reads —
  * a merge bug here silently corrupts the record all future
  * regressions are judged against, so the pure merge is pinned. */
class BenchFoldSpec extends AnyFunSuite {

  test("foldBaseline: per-query min, joins/keeps, alloc follows the winner") {
    val bMed = Map("q1" -> 1.0, "q2" -> 2.0, "q_gone" -> 5.0)
    val bAlloc = Map("q1" -> 100.0, "q2" -> 200.0, "q_gone" -> 500.0)
    val runMed = Map("q1" -> 0.8, "q2" -> 2.5, "q_new" -> 3.0)
    val runAlloc = Map("q1" -> 90.0, "q2" -> 260.0, "q_new" -> 300.0)
    val (m, a) = Bench.foldBaseline(bMed, bAlloc, runMed, runAlloc)
    // q1: run faster -> run median AND run alloc win
    assert(m("q1") === 0.8 && a("q1") === 90.0)
    // q2: baseline faster -> baseline median AND baseline alloc kept
    assert(m("q2") === 2.0 && a("q2") === 200.0)
    // a query absent from this run keeps its record untouched
    assert(m("q_gone") === 5.0 && a("q_gone") === 500.0)
    // a new query joins with its run numbers
    assert(m("q_new") === 3.0 && a("q_new") === 300.0)
    assert(m.keySet === Set("q1", "q2", "q_gone", "q_new"))
  }

  test("foldBaseline: exact tie keeps the RUN's alloc (fresher attribution)") {
    val (m, a) = Bench.foldBaseline(
      Map("q" -> 1.5), Map("q" -> 111.0),
      Map("q" -> 1.5), Map("q" -> 222.0))
    assert(m("q") === 1.5 && a("q") === 222.0)
  }

  test("foldBaseline: missing alloc entries degrade to -1, not a crash") {
    val (m, a) = Bench.foldBaseline(
      Map("q" -> 2.0), Map.empty, Map("q" -> 1.0), Map.empty)
    assert(m("q") === 1.0 && a("q") === -1.0)
  }

  test("fold guard: window conditions decide, wait count does not") {
    def ok(mbps: Double, flat: Boolean = true, flags: Int = 0) =
      Bench.foldWindowHealthy(prewarmDisabled = false, mbps,
        healthyMbps = 500.0, canaryFlat = flat, nFlags = flags)
    // a healthy final probe folds no matter how many retries the
    // bench spent WAITING for it (the r14 attempt-count rule starved
    // the fold on boxes whose first probes routinely fail)
    assert(ok(3900.0))
    assert(ok(500.0))
    // the three real window conditions each veto independently
    assert(!ok(499.0), "degraded final probe")
    assert(!ok(3900.0, flat = false), "canary bump = mid-run window")
    assert(!ok(3900.0, flags = 1),
      "any gate flag — even one the rerun later cleared — means the " +
        "window was shaky enough to land lucky minima elsewhere")
    // prewarm disabled (dev runs) bypasses ONLY the probe term — the
    // canary and flag conditions are measured by the run itself and
    // still veto (r16 ADVICE: the old short-circuit let a
    // prewarm-disabled run fold during a flagged window)
    assert(Bench.foldWindowHealthy(prewarmDisabled = true, 0.0,
      500.0, canaryFlat = true, nFlags = 0))
    assert(!Bench.foldWindowHealthy(prewarmDisabled = true, 0.0,
      500.0, canaryFlat = false, nFlags = 0),
      "canary bump vetoes even with prewarm disabled")
    assert(!Bench.foldWindowHealthy(prewarmDisabled = true, 0.0,
      500.0, canaryFlat = true, nFlags = 2),
      "gate flags veto even with prewarm disabled")
  }

  test("queryNames: every registered query once, in query-number order") {
    val names = SparkEntry.queryNames
    assert(names.distinct === names)
    assert(names.toSet === SparkEntry.queries.keySet)
    val nums = names.map(_.drop(1).takeWhile(_.isDigit).toInt)
    assert(nums === nums.sorted)
    assert(names.head === "q01_name_parse")
    // the canary and the control arm time registered queries
    assert((Bench.ControlQueries :+ Bench.CanaryQuery)
      .forall(SparkEntry.queries.contains))
  }
}
