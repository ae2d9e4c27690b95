package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** One registered engine operator: the Spark plan builder, the equivalent
  * DuckDB oracle SQL (None → driver records a weaker rows-only check), and
  * whether it belongs in the headline bench set.
  *
  * Determinism contract (the driver hash-compares canonicalized output):
  *  - every query ends in a total ORDER BY reproduced in the oracle SQL;
  *  - double-valued aggregates are computed via exact decimal/integer sums
  *    and a single final cast to double, so the bits are order-independent
  *    and identical across engines;
  *  - column names are aliased identically on both sides.
  *
  * Correctness always runs `fn`; the bench times [[benched]]. The two
  * differ in exactly two sanctioned ways:
  *  - '''sort-only''' ([[QueryDef.sorted]]): the operator's output order
  *    is not part of its semantics, so the total ORDER BY exists solely
  *    for the oracle hash. Declare the unsorted plan once; `fn` appends
  *    the sort and `benched` is the plan itself — `benched` ≡ `fn` as a
  *    multiset by construction.
  *  - '''mode twin''' (`benchFn` set by hand): the bench runs an
  *    equality-proven alternate execution mode of the same operator
  *    (e.g. `q_taxi_full` benches the fused single-scan mode while the
  *    staged chain stays the canonical `fn`). Sanctioned only if the
  *    alternate mode is itself oracle-gated under its own registered
  *    name, and the mode switch is disclosed wherever the bench series
  *    is compared across rounds. `BenchedFnSpec` checks `benched` ≡ `fn`
  *    for every benched def either way.
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false,
    benchFn: Option[(SparkSession, String) => DataFrame] = None,
    // rides into the bench artifact's "notes" field, so a reader of the
    // JSON alone can interpret structurally-unequal numbers (e.g. a
    // fidelity-contract query whose timed region stages materializations
    // the single-statement comparator does not pay)
    benchNote: Option[String] = None) {

  /** What the bench times: `benchFn` when set, else `fn`. */
  def benched: (SparkSession, String) => DataFrame = benchFn.getOrElse(fn)
}

object QueryDef {

  /** A sort-only operator: the gated `fn` is `plan` under a total
    * `ORDER BY sortKeys` (mirrored in the oracle SQL), the bench times
    * `plan` unsorted. */
  def sorted(plan: (SparkSession, String) => DataFrame, sortKeys: Column*)(
      oracle: Option[String], bench: Boolean = false,
      benchNote: Option[String] = None): QueryDef =
    QueryDef((s, d) => plan(s, d).orderBy(sortKeys: _*), oracle, bench,
      benchFn = Some(plan), benchNote = benchNote)
}
