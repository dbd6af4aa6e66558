package graft.core

import org.apache.spark.sql.SparkSession

/** The local session recipe shared by the harness mains (Bench, Verify,
  * PlanAudit, ScaleProbe) and the test suite: one task slot and one
  * shuffle partition per cpu, UTC, no UI, and parquet `In` pushdown wide
  * enough for the IVF rerank pools. Callers add their own app name, log
  * level and extra config. `Cli` builds its own session: its master is a
  * deployment setting.
  */
object LocalSession {

  /** `SPARK_GRAFT_CPUS` (default 4): the harness mains' cpu count. */
  def harnessCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // exact id-set parquet pushdown for the rerank pools
      .config("spark.sql.parquet.pushdown.inFilterThreshold",
        graft.operators.IvfIndex.MaxInPushdownIds.toLong)
      .config("spark.ui.enabled", "false")
}
