package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.operators.SimJoin

/** Structural gates on the physical plans whose SHAPE is the scale
  * contract (VERDICT r6 #7): a number in BENCH can be noise-inflated, but
  * the plan either contains the map-side k-bounded partial aggregate or it
  * doesn't. If Spark ever stops planning the typed top-k Aggregator with
  * partial aggregation (an upgrade regression), the sim-join exchange
  * reverts to shuffling the full |queries|×|corpus| product — these tests
  * fail before any benchmark has to notice.
  */
class PlanShapeSpec extends SparkSpec {

  private def embs = core.Tables.embeddings(spark, Sf0001)

  /** The physical plan AFTER EnsureRequirements has inserted exchanges
    * (`sparkPlan` is pre-exchange, so shuffle assertions there are
    * vacuous), unwrapping the AQE shell to its current physical plan.
    */
  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("sim-join plans a MAP-SIDE partial top-k agg with no shuffle beneath it") {
    val e = embs
    val df = SimJoin.topKPerQuery(
      e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb")),
      k = 5)
    val plan: SparkPlan = physical(df)

    // the k-bounded Aggregator is planned with a Partial mode instance…
    val partialAggs = plan.collect {
      case a: ObjectHashAggregateExec
        if a.aggregateExpressions.exists(_.mode == Partial) => a
    }
    assert(partialAggs.nonEmpty, s"no partial ObjectHashAggregate in:\n$plan")

    // …that sits BELOW the exchange: nothing under the partial agg may
    // shuffle, so the exchange only ever carries ≤ k rows per (query,
    // partition) — the 100 TB contract of SimJoin.
    partialAggs.foreach { agg =>
      val shuffles = agg.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty,
        s"shuffle below the partial top-k agg (full-corpus exchange):\n$agg")
    }

    // and a Final instance exists after the exchange (sanity: the partial
    // is not the whole story).
    val finalAggs = plan.collect {
      case a: ObjectHashAggregateExec
        if a.aggregateExpressions.exists(_.mode == Final) => a
    }
    assert(finalAggs.nonEmpty, s"no final ObjectHashAggregate in:\n$plan")

    // the plan text names the aggregator — the marker PLANS.md documents
    // and the bench volume row relies on.
    assert(plan.toString.toLowerCase.contains("partial_topkagg"),
      s"partial_topkagg marker missing from plan text:\n$plan")
  }

  test("mix_sample: rate table broadcasts, no per-group window, corpus side never shuffles") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val df = operators.Splits.sampleToTokenBudget(docs, "doc_id", "source",
      operators.TextAnalysis.tokenCount(col("text")), 2000L)
    val plan = physical(df)
    // an exact-packing formulation would plan a running-sum Window over
    // each source — the single-task-per-group shape this operator exists
    // to avoid
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"per-group window in mix_sample plan:\n$plan")
    assert(plan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.nonEmpty, s"rate join is not broadcast:\n$plan")
    // the only exchange is the |groups|-row rates partial→final agg; the
    // corpus side is scan → broadcast-join → codegen filter, unshuffled
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1,
      s"expected exactly the rates agg exchange, got ${shuffles.size}:\n$plan")
  }

  test("tokenizeToIds: the apply side is ONE narrow projection — no KEYED Exchange over the corpus") {
    // The vocabulary is a bounded broadcast artifact; tokenize-apply must
    // therefore cost exactly a scan + projection at 100 TB. The join form
    // pays a token-level regroup (corpus-sized) — the default must not.
    // The ONLY exchange the plan may carry is the r22 scan-parallelism
    // floor (TextAnalysis.scanFloor): a ROUND-ROBIN repartition of the
    // (id, text) rows that fires only when the scan has fewer partitions
    // than the session's parallelism — the fixture's single-row-group
    // shape, where this test runs. A HASH or RANGE exchange would mean
    // the token-level regroup this pin exists to forbid.
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val vocab = operators.TextAnalysis.vocabIds(
      operators.CountTable.counts(docs, "text", n = 1))
    val plan = physical(
      operators.TextAnalysis.tokenizeToIds(docs, "doc_id", "text", vocab))
    val keyed = plan.collect { case s: ShuffleExchangeExec => s }
      .filterNot(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
    assert(keyed.isEmpty,
      s"tokenize apply shuffled the corpus on a key:\n$plan")
    assert(plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, s"tokenize apply planned a join:\n$plan")
  }

  test("bm25 direct scan: df/stats broadcast, k-bounded TakeOrderedAndProject, no token-mass shuffle") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val plan = physical(operators.Bm25.topK(
      docs, "doc_id", "text", Seq("vector", "stream"), 10))
    // ranking must be the k-bounded operator, not a global sort
    assert(plan.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"no k-bounded ranking in:\n$plan")
    // df and the corpus stats reach the scorer as one broadcast row: the
    // plan's only broadcast carries a keyless (one-row) aggregate
    val stats = plan.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(stats.size == 1 && stats.head.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.groupingExpressions.isEmpty => a
    }.nonEmpty, s"stats not broadcast as one row:\n$plan")
    // tf is computed in-row: no explode at all, and the only exchange is
    // the single-partition one under the one-row stats aggregate
    assert(plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }.isEmpty, s"token-level explode in:\n$plan")
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1 && shuffles.head.outputPartitioning ==
      org.apache.spark.sql.catalyst.plans.physical.SinglePartition &&
      stats.head.find(_ eq shuffles.head).nonEmpty,
      s"shuffle beyond the stats aggregate's:\n$plan")
    // both passes read the native term_freqs kernel: no lambda, no regex
    // split, and the kernel evaluated once per row in each pass — once in
    // the stats subtree, once in the scoring pass outside it
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, Expression, LambdaFunction, StringSplit}
    def exprs(p: SparkPlan): Seq[Expression] =
      p.collect { case n => n.expressions.flatMap(_.collect { case e => e }) }.flatten
    val interpreted = exprs(plan).filter(e => e.isInstanceOf[LambdaFunction] ||
      e.isInstanceOf[ArrayFilter] || e.isInstanceOf[StringSplit])
    assert(interpreted.isEmpty, s"interpreted tokenizing in:\n$plan")
    def kernels(p: SparkPlan): Int =
      exprs(p).count(_.isInstanceOf[graft.functions.VectorExpressions.TermFreqs])
    assert(kernels(stats.head) == 1 && kernels(plan) == 2,
      s"term_freqs not once per row in each pass:\n$plan")
  }

  test("incremental dedup: survivor via min_by aggregation (no window) + anti join on the hash set") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val df = operators.Dedup.dedupIncremental(
      docs.filter(col("doc_id") >= 250), "doc_id", "text",
      operators.Dedup.contentHashes(docs.filter(col("doc_id") < 300), "text"))
    val plan = physical(df)
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"within-batch survivor must be an aggregation, not a window:\n$plan")
    assert(plan.toString.contains("LeftAnti"), s"no anti join in:\n$plan")
  }

  test("daily-drop stage-2: bucketed corpus-postings side joins with ZERO Exchange") {
    // Round-13 (VERDICT r12 #5): the ~7 s dominant stage of the nightly
    // loop is the batch-postings × corpus-postings equi-join on shingle.
    // The corpus side is the PERSISTED index — at 100 TB it must never
    // reshuffle per drop. Registered as a shingle-bucketed catalog table
    // its scan reports HashPartitioning(shingle), so only the batch side
    // exchanges. Broadcast is disabled here because at sf0.001 the
    // planner would broadcast the tiny index and hide the shape this
    // test exists to pin (at real scale the corpus side can never be
    // broadcast).
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val cut = docs.count() * 3 / 4
    val path = java.nio.file.Files.createTempDirectory("graft-postings-plan").toString
    operators.Dedup.buildPostingsIndex(
      docs.filter(col("doc_id") < cut), "doc_id", "text", n = 2, path)
    val postings = operators.Dedup.registerPostingsBucketed(
      spark, path, "b_plan_postings", nBuckets = 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // jaccardIncremental registers lazy localCheckpoint frames; this test
    // only PLANS (never runs) them, so without explicit cleanup they sit
    // in the persistent-RDD registry until the ContextCleaner happens to
    // GC them — perturbing any later suite that counts registrations on
    // the shared session (DocStoreSpec's leak test).
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = operators.Dedup.jaccardIncremental(
        docs.filter(col("doc_id") >= cut), "doc_id", "text",
        n = 2, threshold = 0.2, postings)
      val plan = physical(df)
      val corpusScans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.output.exists(_.name == "corpus_id") => f
      }
      assert(corpusScans.nonEmpty, s"no corpus-postings scan in:\n$plan")
      assert(corpusScans.forall(_.bucketedScan),
        s"corpus-postings scan is not bucketed:\n$plan")
      // the property: NOTHING between the index scan and the join that
      // consumes it may exchange — the scan's HashPartitioning(shingle)
      // must be what the join reads. (Exchanges ABOVE the join shuffle
      // only its match-bounded output — that's the jaccard aggregation,
      // not a corpus reshuffle.)
      def pathToScan(p: org.apache.spark.sql.execution.SparkPlan)
          : Option[List[org.apache.spark.sql.execution.SparkPlan]] = p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.output.exists(_.name == "corpus_id") => Some(List(p))
        case _ => p.children.flatMap(pathToScan).headOption.map(p :: _)
      }
      val path = pathToScan(plan).getOrElse(fail(s"corpus scan unreachable in:\n$plan"))
      val joinIdx = path.lastIndexWhere(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
      assert(joinIdx >= 0, s"no join above the corpus-postings scan:\n$plan")
      val belowJoin = path.drop(joinIdx + 1)
      assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"corpus-postings side reshuffles before its join (index moved per drop):\n$plan")
      // …and no SORT either: writeBucketed lays out one file per bucket
      // sorted on shingle, so the scan's reported ordering satisfies the
      // sort-merge join directly — the index is read as-is per drop.
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => persistedBefore.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
    }
  }

  test("the corpus side of sim-join is scored via broadcast, not shuffled") {
    val e = embs
    val df = SimJoin.topKPerQuery(
      e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb")),
      k = 5)
    // exactly ONE shuffle in the whole plan: the ≤k·q·partitions exchange
    // between partial and final agg. The scoring join itself must be
    // broadcast (queries side), never a shuffle of the corpus.
    val shuffles = physical(df).collect {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.size == 1,
      s"expected exactly 1 exchange (partial→final agg), got ${shuffles.size}")
  }

  test("bm25 batch probe ranks via the k-bounded partial agg, never a per-q_id window") {
    // Round-14 (VERDICT r13 #2): row_number().over(partitionBy(q_id))
    // funnels a hot-term query's whole matching set through one window
    // task. The batch probe must rank through SimJoin.rankTopK — the
    // same shape the ANN/IVF batch probes pin: a Partial-mode
    // ObjectHashAggregate (the k-bounded TopKAgg) and ZERO WindowExec.
    import org.apache.spark.sql.{Row, types => T}
    import scala.jdk.CollectionConverters._
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-plan").toString
    operators.IndexedBm25.build(docs, "doc_id", "text", path)
    val queries = spark.createDataFrame(
      Seq(Row(0L, Seq("vector", "stream")), Row(1L, Seq("hash"))).asJava,
      T.StructType(Seq(
        T.StructField("q_id", T.LongType),
        T.StructField("terms", T.ArrayType(T.StringType)))))
    val plan = physical(
      operators.IndexedBm25.topKBatch(spark, path, queries, k = 5))
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"per-q_id rank window in bm25 batch plan:\n$plan")
    assert(plan.collect {
      case a: ObjectHashAggregateExec
        if a.aggregateExpressions.exists(_.mode == Partial) => a
    }.nonEmpty, s"no partial ObjectHashAggregate in bm25 batch plan:\n$plan")
    assert(plan.toString.toLowerCase.contains("partial_topkagg"),
      s"partial_topkagg marker missing from bm25 batch plan:\n$plan")
  }

  test("batch phrase probe: pruned positional scan, k-bounded rank, zero WindowExec") {
    // Round-15 (VERDICT r14 "missing" #1): N standing phrases in ONE
    // plan — same rankTopK discipline as the keyword batch probe, and
    // the postings scan must still prune to the union term set's hash
    // partitions (plus the committed-epoch predicate).
    import org.apache.spark.sql.{Row, types => T}
    import scala.jdk.CollectionConverters._
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-phrase-plan").toString
    operators.IndexedBm25.build(docs, "doc_id", "text", path)
    val queries = spark.createDataFrame(
      Seq(Row(0L, Seq("vector", "stream")), Row(1L, Seq("table", "hash"))).asJava,
      T.StructType(Seq(
        T.StructField("q_id", T.LongType),
        T.StructField("phrase", T.ArrayType(T.StringType)))))
    val plan = physical(
      operators.IndexedBm25.phraseSearchBatch(spark, path, queries, k = 5))
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"per-q_id rank window in batch phrase plan:\n$plan")
    assert(plan.toString.toLowerCase.contains("partial_topkagg"),
      s"partial_topkagg marker missing from batch phrase plan:\n$plan")
    val scanLine = plan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("pt") && scanLine.contains("epoch"),
      s"postings scan not pruned on (pt, epoch):\n$scanLine")
  }

  test("persisted packed-IVF probe: epoch+cluster pruned scans, id-pushdown re-rank, broadcast tombstone fold") {
    // Round-17 (VERDICT r16 "missing" #2b): the serving plan of the
    // persisted byte-packed index. The contract at 100 TB: BOTH data
    // scans prune on (epoch IN committed, cluster IN probes) at file
    // listing; the tombstone fold is a broadcast LEFT ANTI above the
    // pruned scan (bounded by deletions-since-compact, never a corpus
    // shuffle); the float re-rank PUSHES the collected pool ids as an
    // `id IN (…)` parquet filter under the prune (the sorted-by-id
    // layout lets row-group stats skip everything but pool groups) —
    // the first two drafts scanned the whole float index / the whole
    // probed clusters respectively, and this pin is what caught both;
    // the ranking cuts are TakeOrderedAndProject — no window, no
    // sort-merge join, no corpus-side Exchange anywhere.
    import graft.operators.{IvfIndex, IvfPackedIndex, Similarity}
    import spark.implicits._
    val emb = Seq.tabulate(40) { i =>
      (i.toLong, (0 until 8).map(j => math.sin(i * 0.7 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val model = IvfIndex.fit(emb, "embedding", k = 4)
    val root = java.nio.file.Files.createTempDirectory("graft-ivfp-plan").toString
    IvfPackedIndex.build(emb, "vec_id", "embedding", model, root)
    IvfPackedIndex.delete(spark, root, Seq(1L, 2L))
    val q = (0 until 8).map(j => math.cos(j * 0.3).toFloat).toArray

    def checkPrune(f: org.apache.spark.sql.execution.FileSourceScanExec): Unit = {
      // round-18 bucketed layout: partition dirs prune on (epoch IN
      // committed, bucket IN probed%B) — the listing never scales in k —
      // and the per-cluster prune reaches PARQUET as an In(cluster)
      // pushed filter, where the (bucket, cluster, id)-sorted row groups
      // make it tight
      val pf = f.partitionFilters.map(_.sql).mkString(" ")
      assert(pf.contains("epoch") && pf.contains("bucket"),
        s"index scan not pruned on (epoch, bucket): $pf")
      assert(f.metadata.get("PushedFilters").exists(_.contains("In(cluster")),
        s"cluster IN-list not pushed to parquet: ${f.metadata.get("PushedFilters")}")
    }

    // (a) the candidate pass: packed scan only — codes, never embedding
    val probes = model.nearestClusters(q, 2)
    val candPlan = physical(Similarity.cutTopK(
      IvfIndex.pruneProbes(IvfPackedIndex.readPacked(spark, root), probes)
        .select(col("id"), graft.functions.VectorFunctions
          .cosine_sim_i8(col("codes"), typedlit(q.toSeq)).as("score")),
      "id", 20))
    val packedScans = candPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.output.exists(_.name == "codes") => f
    }
    assert(packedScans.nonEmpty, s"no packed scan in candidate plan:\n$candPlan")
    packedScans.foreach { f =>
      checkPrune(f)
      assert(!f.output.exists(_.name == "embedding"),
        "packed candidate scan reads the float embedding")
    }

    // (b) the served probe: the pool collected at construction, so the
    // returned plan IS the re-rank — float scan with the In(id) pushdown
    val plan = physical(IvfPackedIndex.queryTopK(spark, root, model, q, 5, 2))
    val floatScans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.output.exists(_.name == "embedding") => f
    }
    assert(floatScans.nonEmpty, s"no float re-rank scan in:\n$plan")
    floatScans.foreach { f =>
      checkPrune(f)
      assert(!f.output.exists(_.name == "codes"), "re-rank scan reads the codes")
      assert(f.metadata.get("PushedFilters").exists(_.contains("In(id")),
        s"pool ids not pushed to the float scan: ${f.metadata.get("PushedFilters")}")
    }
    assert(plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.joinType.sql == "LEFT ANTI" => j
    }.nonEmpty, s"tombstone fold is not a broadcast left anti:\n$plan")

    for (p <- Seq(candPlan, plan)) {
      assert(p.collect {
        case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s
      }.isEmpty, s"sort-merge join in the packed probe (index-side shuffle):\n$p")
      assert(p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, s"rank window in the packed probe:\n$p")
    }
    assert(plan.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"no k-bounded TakeOrderedAndProject cut:\n$plan")

    // (c) the BATCH quantized probe (round-17): returned plan re-ranks
    // the union pool — float scan carries the In(id) pushdown under the
    // epoch+cluster prune, ranking is the k-bounded partial_topkagg,
    // never a per-q_id window
    val queries = Seq.tabulate(5) { i =>
      (i.toLong, (0 until 8).map(j => math.cos(i + j * 0.3).toFloat))
    }.toDF("vec_id", "embedding")
    val bplan = physical(IvfPackedIndex.queryTopKBatch(
      spark, root, model, queries, "vec_id", "embedding", 5, 2))
    val bFloatScans = bplan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.output.exists(_.name == "embedding") => f
    }
    assert(bFloatScans.nonEmpty, s"no float re-rank scan in batch plan:\n$bplan")
    bFloatScans.foreach { f =>
      checkPrune(f)
      assert(f.metadata.get("PushedFilters").exists(_.contains("In(id")),
        s"union pool ids not pushed in the batch re-rank: ${f.metadata.get("PushedFilters")}")
    }
    assert(bplan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"per-q_id rank window in the batch quantized probe:\n$bplan")
    assert(bplan.toString.toLowerCase.contains("partial_topkagg"),
      s"partial_topkagg marker missing from the batch quantized probe:\n$bplan")
  }

  test("banded dHash gate: index scan prunes the LISTING to colliding gb buckets and pushes the key set (r19)") {
    // The banded index's scale contract (VERDICT r18 "missing" #1): the
    // per-batch gate must read ONLY the batch's colliding buckets — the
    // touched-gb set lands as a PartitionFilter (evaluated at file
    // listing) and the batch's key set as a parquet PushedFilter
    // (row-group pruned via the (band, key, sig) sort), so corpus-side
    // bytes scale with the batch's key coverage, never with the index.
    // Without the pin, a regression to a post-scan filter would
    // silently re-read the whole banded tree per micro-batch — exactly
    // the design debt this form replaces.
    import graft.operators.{Dedup, Multimodal}
    import spark.implicits._
    val corpus = Seq.tabulate(60)(i =>
      (i.toLong, s"pin corpus payload $i".getBytes("UTF-8"))).toDF("id", "bytes")
    val path = graft.core.SessionCache.newTempDir("plan-banded") + "/bidx"
    Dedup.buildBandedDHashIndex(corpus, "id", "bytes", path, maxHamming = 10)
    val batchSigs = Seq((999L, "pin corpus payload 7".getBytes("UTF-8")))
      .toDF("id", "bytes")
      .select(col("id"), Multimodal.dHashCol(col("bytes")).as("sig"))
    val plan = physical(Dedup.sigDupIdsVsBandedIndex(batchSigs, path, 10))
    val idxScans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.output.exists(_.name == "band") => f
    }
    assert(idxScans.nonEmpty, s"no banded-index scan in the gate plan:\n$plan")
    idxScans.foreach { f =>
      val pf = f.metadata.getOrElse("PartitionFilters", "")
      assert(pf.contains("gb") && pf.contains("IN"),
        s"touched-bucket prune not in PartitionFilters: $pf\n$plan")
      assert(f.metadata.get("PushedFilters").exists(_.contains("In(key")),
        s"batch key set not pushed to parquet: ${f.metadata.get("PushedFilters")}\n$plan")
    }
    // and the join discipline holds — never an all-pairs degradation
    assert(plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"cartesian product in the banded gate plan:\n$plan")
    assert(plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, s"nested-loop join in the banded gate plan:\n$plan")
  }

  test("image dedup family: banding equi-joins only — no cartesian, no nested-loop pixel compare (r18)") {
    // The perceptual-hash family's scale contract: candidates come from
    // (band, key) equi-joins, so a plan may never degrade to
    // CartesianProduct/BroadcastNestedLoopJoin (an all-pairs compare at
    // 100 TB). Pinned for both the self-join pairs and the cross-index
    // incremental gate.
    import graft.operators.{Dedup, Multimodal}
    import spark.implicits._
    val assets = Seq.tabulate(8)(i => (i.toLong, s"payload number $i".getBytes("UTF-8")))
      .toDF("id", "bytes")
    val assetSigs = assets.select(col("id"), Multimodal.dHashCol(col("bytes")).as("sig"))
    val idxSigs = Seq((100L, 42L), (101L, -7L)).toDF("id", "sig")
    for ((what, plan) <- Seq(
      "pairs" -> physical(Dedup.imageNearDupPairs(assets, "id", "bytes", 10)),
      "gate" -> physical(Dedup.sigDupIdsVsIndex(assetSigs, idxSigs, 10)))) {
      assert(plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"cartesian product in the image-dedup $what plan:\n$plan")
      assert(plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.isEmpty, s"nested-loop join in the image-dedup $what plan:\n$plan")
    }
  }
}
