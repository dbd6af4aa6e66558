package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared driver row: the Spark query `run(session, fixtureDir)` and
  * its DuckDB twin `oracle`, which must return the same columns and rows.
  *
  * `cached` marks rows whose frame is a MATERIALIZED constant after
  * [[Artifacts.warmArtifacts]] — verification artifacts (parity sweeps)
  * whose cached frame is a local one-row Seq, so a re-count is a lookup,
  * not operator cost. Bench tags these in its output (`"cached"`) so their
  * min-of-N timings are excluded from cross-round operator comparisons;
  * the bench-only volume rows time the underlying probes for real.
  * `pipeline_daily_drop` is deliberately not cached: only its index
  * builds are session-cached, and the chain frame is rebuilt per call, so
  * its timing is the real end-to-end nightly-loop serving cost.
  */
final case class Declared(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String,
    cached: Boolean = false)
