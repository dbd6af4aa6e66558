package graft

/** Driver-contract smoke: entry() returns rows on sf0.001, the declared
  * registry pairs every query with one oracle, and every query runs
  * against the smallest fixture.
  */
class EntrySpec extends SparkSpec {

  /** The registry, family by family: each family's rows run as their own
    * test, so a failure names its family and
    * `testOnly graft.EntrySpec -- -z Stream` reruns one.
    */
  private val families: Seq[(String, Seq[registry.Declared])] = Seq(
    "Store" -> registry.StoreRows.rows,
    "Similarity" -> registry.SimilarityRows.rows,
    "Ann" -> registry.AnnRows.rows,
    "Bm25" -> registry.Bm25Rows.rows,
    "Dedup" -> registry.DedupRows.rows,
    "Text" -> registry.TextRows.rows,
    "Stream" -> registry.StreamRows.rows,
    "Relational" -> registry.RelationalRows.rows,
    "Pipeline" -> registry.PipelineRows.rows)

  test("entry() returns rows > 0 (t1 smoke)") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(0)).contains(0L)) // self-match ranks first
  }

  test("registry: unique row names, paired queries/oracles, 142 floor, cached set") {
    // a duplicate name would silently collapse in the derived maps
    val dups = SparkEntry.rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    assert(dups.isEmpty, s"names declared more than once: $dups")
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    // the floor: 142 declared rows, each with an oracle
    assert(SparkEntry.rows.size >= 142, s"row count ${SparkEntry.rows.size}")
    assert(SparkEntry.queries.size == SparkEntry.rows.size)
    assert(SparkEntry.cachedQueryNames == Set(
      "ann_append_parity", "ann_batch_topk", "ivf_batch_topk",
      "ivf_topk", "ivf_topk_quantized", "ivf_packed_lifecycle",
      "stream_ivf_probe", "stream_ivf_probe_quantized",
      "stream_ivf_packed_maintain", "ivf_batch_topk_quantized",
      "incremental_near_dedup", "jaccard_index_append_parity",
      "vocab_index_append_parity", "vocab_delete_parity"))
    // the per-family tests below run every declared row exactly once
    assert(families.flatMap(_._2).map(_.name).sorted == SparkEntry.rows.map(_.name).sorted,
      "the per-family split does not cover SparkEntry.rows exactly")
  }

  test("round-13 IVF invariant rows equal the constants their oracles pin") {
    val ivf = SparkEntry.queries("ivf_topk")(spark, Sf0001).collect()
    assert(ivf.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq((10L, 1L, 1L)), s"ivf_topk flags: ${ivf.mkString(",")}")
    val sp = SparkEntry.queries("stream_ivf_probe")(spark, Sf0001).collect()
    assert(sp.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq((20L, 1L, 1L)), s"stream_ivf_probe flags: ${sp.mkString(",")}")
  }

  families.foreach { case (family, rows) =>
    test(s"$family rows execute on sf0.001 and return rows") {
      val empties = rows.sortBy(_.name).flatMap { r =>
        if (r.run(spark, Sf0001).count() == 0) Some(r.name) else None
      }
      // events_setops may legitimately be empty at this sf; everything else must
      // produce rows.
      assert(empties.toSet.subsetOf(Set("events_setops")), s"empty results: $empties")
    }
  }
}
