package graft

import graft.core.LocalSession

/** Physical-plan audit harness: prints the formatted plan of each declared
  * query so scan pruning (ReadSchema/PushedFilters), exchange counts,
  * broadcast usage, partial aggregation, and WholeStageCodegen coverage can
  * be inspected and iterated (the "explain until it's the plan you'd want"
  * loop from the builder brief).
  *
  * Usage: runMain graft.PlanAudit <sfDir> [queryName ...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    // SPARK_GRAFT_CPUS (default 4): the Bench/Verify convention, so a
    // captured plan can reflect the bench session's parallelism (r22 —
    // streaming state-partition evidence is invisible at local[4])
    val spark = LocalSession.builder(LocalSession.harnessCpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Streaming rows: the returned frame is just the memory-sink table, so
    // the interesting execution evidence (micro-batch count, per-batch
    // durations, state-store operator + its partition count) lives in the
    // progress events — print them alongside the formatted plan (r22).
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[stream] batch=${p.batchId} rows=${p.numInputRows} durationMs=${p.durationMs}")
        p.stateOperators.foreach { so =>
          println(s"[stream]   state op=${so.operatorName} shufflePartitions=${so.numShufflePartitions} " +
            s"rowsTotal=${so.numRowsTotal} commitSumMs=${so.commitTimeMs}")
        }
      }
      override def onQueryTerminated(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
      .foreach { case (name, fn) =>
        println(s"\n============================== $name ==============================")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"[audit] $name failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
