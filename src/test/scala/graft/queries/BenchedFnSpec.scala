package graft.queries

import graft.SparkSpec

/** The bench times `benched`, the oracle gates `fn`: for every benched
  * def whose `benchFn` is set, the two must return the same rows (as a
  * multiset — the sorted `fn` carries the oracle's total ORDER BY, the
  * benched plan need not). Sort-only defs hold this by construction
  * ([[QueryDef.sorted]]); the mode twins (`q_taxi_full`,
  * `c_pipeline_e2e`, `c_pipeline_fused`) are where it can break. */
class BenchedFnSpec extends SparkSpec {

  private val twins = graft.SparkEntry.defs.toSeq.sortBy(_._1)
    .filter { case (_, d) => d.bench && d.benchFn.isDefined }

  test("the bench set has benchFn defs to check") {
    assert(twins.nonEmpty)
  }

  twins.foreach { case (name, d) =>
    test(s"$name: benched returns the same rows as the gated fn") {
      val gated = d.fn(spark, sf)
      val timed = d.benched(spark, sf)
      assert(timed.columns.toSeq === gated.columns.toSeq)
      val want = gated.collect().map(_.toString).sorted.toSeq
      val got = timed.collect().map(_.toString).sorted.toSeq
      assert(want.nonEmpty, s"$name is empty at $sf: a vacuous check")
      assert(got === want)
    }
  }
}
