package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine capability: a Spark query over the test corpus and,
  * when SQL-expressible, its DuckDB oracle twin. Column names and row
  * ordering must agree exactly between the two (the driver sorts columns by
  * name and hashes values — see the builder contract in SparkEntry).
  *
  * BUILDERS MAY BE EAGER (r20 ADVICE #3): many `fn`s materialize heavy
  * prefixes at CONSTRUCTION time — eager `.pin()`s inside the body, and
  * the streaming/maintenance demos run their whole epoch loop before
  * returning the final read-back. Tooling that calls `fn` "just to look
  * at the plan" (explain dumps, plan specs) therefore executes the heavy
  * work and sees only the pinned result's `Scan ExistingRDD`; dump the
  * lazy operator frames instead (graft.PlanProbes) when the interior
  * shape is the subject.
  */
case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** Measurement/eval-class query (recall evals, geometry sweeps) rather
      * than a pipeline: Bench times it ONCE instead of median-of-REPS so
      * the driver-contract total reflects pipeline cost, not repeated
      * benchmarking of the benchmarks themselves (round-9 verdict #6).
      * Correctness handling (Verify/oracle) is identical either way.
      */
    evalOnly: Boolean = false,
    /** Demonstration query whose bench-depth run duplicates another
      * benched query. q242, the uninterrupted flat CC store stream: at
      * bench depth (its [[benchFn]]) q252 runs the same one-trigger flat
      * store stream (its kill leg is full-depth only), so timing both
      * measures one loop twice. Bench's default tier skips it and stamps
      * the skip into the JSON (`bench_skipped`). GRAFT_BENCH_FULL_DEMOS=1
      * restores it. Verify/CORRECTNESS and the ScalaTest suites always
      * run it (r17 verdict #6).
      */
    benchSkip: Boolean = false,
    /** The bench-depth builder of a maintenance demo: ONE uninterrupted
      * stream that ingests every staged epoch file in a single trigger at
      * the production fold cadence, with no kill leg. It serves exactly
      * what `fn` (full depth: a trigger per file, forced folds, the kill
      * and restart) serves — batch-boundary independence, pinned per demo
      * by a reduced ≡ full spec. Bench runs it unless
      * GRAFT_BENCH_FULL_DEMOS=1; Verify and the suites run `fn`.
      */
    benchFn: Option[(SparkSession, String) => DataFrame] = None)

object QueryDef {
  /** A maintenance demo from its one body `run(session, dir, reduced)`:
    * `fn` runs it at full depth (`reduced = false`), `benchFn` at bench
    * depth (`reduced = true`).
    */
  def demo(name: String, run: (SparkSession, String, Boolean) => DataFrame,
      oracle: Option[String], benchSkip: Boolean = false): QueryDef =
    QueryDef(name, run(_, _, false), oracle, benchSkip = benchSkip,
      benchFn = Some(run(_, _, true)))
}
