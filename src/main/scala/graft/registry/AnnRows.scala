package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SessionCache
import graft.functions.VectorFunctions.cosine_sim
import graft.operators._

import Artifacts._
import OracleSql._

/** Persisted ANN indexes (E2): LSH and IVF probes, their
  * batch/quantized/packed forms, lifecycle parity and recall rows.
  */
private[graft] object AnnRows {

  private val RecallFloor = 0.5d

  /** One (k, floor_met) row: |`approx` ∩ exact top-k| / k against the
    * brute-force scan for the flagship query vector, reduced to a floor
    * flag. Used by `ivf_recall` (k-means seeding is not SQL-derivable, so
    * a constant-flag oracle is the strongest available form); `ann_recall`
    * emits the derived scalar instead since round 11 (portable planes).
    */
  private def recallRow(s: SparkSession, dir: String, approx: DataFrame): DataFrame = {
    val exact = Similarity.topK(embs(s, dir), "embedding", "vec_id", queryVec(s, dir), RecallK)
      .select(col("vec_id").as("id"))
    approx.select("id").join(exact, Seq("id"))
      .agg((count(lit(1)).cast("double") / RecallK.toDouble).as("recall"))
      .select(lit(RecallK.toLong).as("k"),
        when(col("recall") >= RecallFloor, 1L).otherwise(0L).as("floor_met"))
  }

  /** Append-path parity for BOTH persisted indexes (round-9): build each
    * index over the first 3/4 of the corpus, APPEND the last 1/4 as the
    * daily batch ([[AnnIndex.appendToIndex]] /
    * [[IvfIndex.appendToIndex]] against the frozen model), and compare
    * the flagship top-k probe — ids AND rounded scores — against a
    * same-config build over the full corpus. Also runs the frozen-model
    * [[IvfIndex.driftCheck]] on the batch: a same-distribution quarter
    * must NOT recommend a re-fit. The computed row is invariant
    * (parity=1, refit=0) so it hash-checks against a constant oracle —
    * the embed_hash pattern. Cached: the builds are offline artifacts,
    * not per-query serving work.
    */
  private def annAppendParity(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCreate(s"ann_append_parity:$dir") {
      val all = embs(s, dir)
      val q = queryVec(s, dir)
      val cut = all.count() * 3 / 4
      val old = all.filter(col("vec_id") < cut)
      val batch = all.filter(col("vec_id") >= cut)
      // LSH: deterministic hyperplanes → append must equal rebuild
      val lshPath = SessionCache.newTempDir("graft-lsh-append")
      AnnIndex.writeIndex(AnnIndex.buildIndex(old, "vec_id", "embedding", annCfg), lshPath, annCfg)
      AnnIndex.appendToIndex(batch, lshPath, "vec_id", "embedding", annCfg)
      val rebuildProbe =
        probed(AnnIndex.queryTopK(AnnIndex.buildIndex(all, "vec_id", "embedding", annCfg), q, RecallK, annCfg))
      val lshParity = probed(AnnIndex.queryTopK(s.read.parquet(lshPath), q, RecallK, annCfg)) ==
        rebuildProbe
      // ... and COMPACTION (appends accumulate per-batch files) must not
      // change a probe either: rewrite one file per dir, swap, re-probe.
      AnnIndex.compactIndex(s, lshPath)
      val compactParity =
        probed(AnnIndex.queryTopK(s.read.parquet(lshPath), q, RecallK, annCfg)) == rebuildProbe
      // IVF: frozen model fit on the first HALF; the drift baseline comes
      // from the held-out second quarter (out-of-sample — in-sample
      // quality is ~0.15 optimistic at this geometry and would flag every
      // healthy batch; see IvfIndex.driftCheck). The index itself covers
      // all of `old` under the frozen model, as a deployment's would.
      val model = IvfIndex.fit(all.filter(col("vec_id") < cut / 2), "embedding")
      val baseline = IvfIndex.meanAssignedCosine(
        all.filter(col("vec_id") >= cut / 2 && col("vec_id") < cut), "embedding", model)
      val nProbe = IvfIndex.defaultNProbe(model.centroids.length)
      val ivfPath = SessionCache.newTempDir("graft-ivf-append")
      IvfIndex.writeIndex(IvfIndex.buildIndex(old, "vec_id", "embedding", model), ivfPath)
      IvfIndex.appendToIndex(batch, ivfPath, "vec_id", "embedding", model)
      val ivfParity = probed(IvfIndex.queryTopK(s.read.parquet(ivfPath), model, q, RecallK, nProbe)) ==
        probed(IvfIndex.queryTopK(IvfIndex.buildIndex(all, "vec_id", "embedding", model), model, q, RecallK, nProbe))
      val drift = IvfIndex.driftCheck(batch, "embedding", model, baseline)
      import s.implicits._
      Seq((RecallK.toLong,
        if (lshParity) 1L else 0L,
        if (compactParity) 1L else 0L,
        if (ivfParity) 1L else 0L,
        if (drift.refitRecommended) 1L else 0L))
        .toDF("k", "parity_lsh", "parity_compact", "parity_ivf", "refit_recommended")
    }

  /** Batch==single-probe parity of one index's batch probe, declared as
    * the hash-checked `*_batch_topk` rows: the 20-query batch probe
    * (`batchProbe` over the vec_id < 20 queries, emitting q_id/rank/c_id/
    * score) must return, per query, EXACTLY what 20 `singleProbe` calls
    * (id/score) return — ids AND rounded scores, in rank order. The
    * listing itself is seed-dependent; the PARITY is an invariant, so the
    * row is a constant the driver hash-checks against a constant oracle
    * — the ann_append_parity pattern. AnnBatchSpec pins the same equality
    * at spec level on sf0.001; these rows re-prove it on the driver
    * fixtures. Cached under `cacheKey`: 21 probes are a verification
    * artifact, not per-query serving work.
    */
  private def batchParity(s: SparkSession, dir: String, cacheKey: String)(
      batchProbe: DataFrame => DataFrame,
      singleProbe: Array[Float] => DataFrame): DataFrame =
    SessionCache.getOrCreate(s"$cacheKey:$dir") {
      val queries = embs(s, dir).filter(col("vec_id") < 20)
      val batch = batchProbe(queries)
        .select(col("q_id"), col("rank"), col("c_id"), round(col("score"), 6).as("score"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (q, rows) =>
          q -> rows.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq
        }
      val singles = queries.select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
        .map { case (q, v) =>
          q -> probed(singleProbe(v))
        }
      val parity = batch.keySet.subsetOf(singles.keySet) &&
        singles.keys.forall(q => batch.getOrElse(q, Seq.empty) == singles(q))
      import s.implicits._
      Seq((20L, RecallK.toLong, if (parity) 1L else 0L))
        .toDF("n_queries", "k", "parity")
    }

  /** The only acceptable outcome of every [[batchParity]] row. */
  private val batchParityOracle =
    """SELECT CAST(20 AS BIGINT) AS n_queries, CAST(10 AS BIGINT) AS k,
      |  CAST(1 AS BIGINT) AS parity""".stripMargin

  /** Invariant flags of the flagship single-query IVF probe, declared as
    * the hash-checked `ivf_topk` row (round-13; the raw listing is
    * seeded-k-means territory — rows-only through r12 — and stays spec
    * territory: AnnBatchSpec/IndexAppendSpec re-derive it). Two designed
    * invariants:
    *
    *  - `parity`: [[IvfIndex.queryTopK]] through the PERSISTED index must
    *    return, id-for-id and rounded-score-for-score, the exact rerank
    *    over a FRESH in-memory assignment of the raw corpus restricted to
    *    the same probed clusters — proves the persisted partition
    *    contents, the pruned scan, and the rank stage lose nothing
    *    relative to a from-scratch evaluation of the same probe set;
    *  - `recall_floor_met`: recall@10 of the served probe vs the exact
    *    brute-force top-10 over the FULL corpus clears [[RecallFloor]]
    *    (the ivf_recall argument, re-proven on the serving row itself).
    *
    * Both flags are invariants, so the row is a constant the driver
    * hash-checks against a constant oracle — the ann_batch_topk pattern
    * that closed r10's rows-only gap. Cached: the full-corpus fresh
    * re-assignment is a verification artifact, not serving work (the
    * bench-only `bench_ivf_topk_single` row times the live probe).
    */
  private def ivfTopkParity(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCreate(s"ivf_topk_parity:$dir") {
      val q = queryVec(s, dir)
      val (model, idx) = ivfIndex(s, dir)
      val nProbe = IvfIndex.defaultNProbe(model.centroids.length)
      val served = probed(IvfIndex.queryTopK(idx, model, q, RecallK, nProbe))
      // independent rerank: assign the raw corpus fresh (never touching
      // the persisted files), restrict to the same probed clusters, rank
      val probes = model.nearestClusters(q, nProbe)
      val fresh = IvfIndex.buildIndex(embs(s, dir), "vec_id", "embedding", model)
        .filter(col("cluster").isin(probes.map(Int.box): _*))
      val parity = served == probed(Similarity.topK(fresh, "embedding", "id", q, RecallK))
      val exact = probed(Similarity.topK(
          embs(s, dir).select(col("vec_id").as("id"), col("embedding")),
          "embedding", "id", q, RecallK))
        .map(_._1).toSet
      val recall = served.map(_._1).count(exact.contains).toDouble / RecallK
      import s.implicits._
      Seq((RecallK.toLong, if (parity) 1L else 0L,
        if (recall >= RecallFloor) 1L else 0L))
        .toDF("k", "parity", "recall_floor_met")
    }

  /** Invariant flags of the QUANTIZED IVF serving composition (round-15;
    * VERDICT r14 next #7; re-declared round-16 over the PERSISTED packed
    * artifact per VERDICT r15 next #2): the served probe now runs
    * [[IvfPackedIndex.queryTopK]] against the on-disk, epoch-committed,
    * build-3/4-append-1/4 packed+float index — the deployment path —
    * instead of re-quantizing the float index in-session. Checks:
    * `rerank_float_exact` — every served (id, score) must equal the
    * direct float cosine of that id (the re-rank really escaped the
    * reconstruction); `recall_floor_met` — served ids recover ≥ 90% of
    * the FLOAT index probe's top-k (quantization may only cost pool
    * membership, and barely); `packed_parity` — the persisted serve
    * equals BOTH in-session derivations (array-form int8 rerank and
    * byte-packed rerank), so persisted == derived == rebuild (the
    * append-parity proof rides the 3/4+1/4 construction). Constant
    * oracle, the ivf_topk pattern.
    */
  private def ivfQuantParity(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCreate(s"ivf_quant_parity:$dir") {
      val q = queryVec(s, dir)
      val (model, idx) = ivfIndex(s, dir)
      val nProbe = IvfIndex.defaultNProbe(model.centroids.length)
      val served = probed(IvfPackedIndex.queryTopK(
        s, ivfPackedIdx(s, dir), model, q, RecallK, nProbe))
      // both in-session derivations must rank identically to the
      // persisted serve: the array-form int8 rerank AND the byte-packed
      // rerank over a fresh quantization of the full-corpus float index
      val packedParity =
        served == probed(IvfIndex.queryTopKQuantizedRerank(
          IvfIndex.quantizeIndex(idx), idx, model, q, RecallK, nProbe)) &&
        served == probed(IvfIndex.queryTopKPackedRerank(
          IvfIndex.quantizeIndexPacked(idx), idx, model, q, RecallK, nProbe))
      val floatTop = probed(IvfIndex.queryTopK(idx, model, q, RecallK, nProbe))
      val recall = served.map(_._1).count(floatTop.map(_._1).toSet).toDouble / RecallK
      // served scores must be the float cosines, not reconstructions
      val floatScores = embs(s, dir)
        .filter(col("vec_id").isin(served.map(p => Long.box(p._1)): _*))
        .select(col("vec_id").cast("long"),
          round(cosine_sim(col("embedding"), typedlit(q.toSeq)), 6).as("score"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      val exactScores = served.forall { case (id, sc) =>
        floatScores.get(id).contains(sc) }
      import s.implicits._
      Seq((RecallK.toLong, if (exactScores) 1L else 0L,
        if (recall >= 0.9) 1L else 0L, if (packedParity) 1L else 0L))
        .toDF("k", "rerank_float_exact", "recall_floor_met", "packed_parity")
    }

  /** FULL LIFECYCLE of the persisted packed-IVF index on a dedicated
    * root (round-16; VERDICT r15 next #2 "append/delete parity row"):
    * build 3/4 → append 1/4 → DELETE ids < 50 (one shared-tombstone
    * write hiding them from BOTH precision forms) → COMPACT (fold
    * physically, epoch fan-in back to 1). At each step the persisted
    * probe must equal the byte-packed rerank over a fresh in-memory
    * frozen-model (re)build of the surviving corpus — proving the
    * epoch-committed two-form layout, the shared tombstone sidecar, and
    * the swap-compact each lose nothing. `compact_parity` additionally
    * pins the committed-epoch count collapsing to exactly 1. Constant
    * flags → constant oracle (the ann_append_parity pattern). Cached:
    * lifecycle churn is a verification artifact; `ivf_topk_quantized`
    * serves the live probe and the bench volume rows time it.
    */
  private def ivfPackedLifecycle(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCreate(s"ivf_packed_lifecycle:$dir") {
      val q = queryVec(s, dir)
      val (model, _) = ivfIndex(s, dir)
      val nProbe = IvfIndex.defaultNProbe(model.centroids.length)
      def fresh(rows: DataFrame): Seq[(Long, Double)] = {
        val assigned = IvfIndex.buildIndex(rows, "vec_id", "embedding", model)
          .localCheckpoint(eager = false)
        probed(IvfIndex.queryTopKPackedRerank(
          IvfIndex.quantizeIndexPacked(assigned), assigned, model, q, RecallK, nProbe))
      }
      val root = SessionCache.newTempDir("graft-ivf-packed-lc")
      val cut = embs(s, dir).count() * 3 / 4
      IvfPackedIndex.build(embs(s, dir).filter(col("vec_id") < cut),
        "vec_id", "embedding", model, root)
      IvfPackedIndex.append(embs(s, dir).filter(col("vec_id") >= cut),
        "vec_id", "embedding", model, root)
      def served: Seq[(Long, Double)] =
        probed(IvfPackedIndex.queryTopK(s, root, model, q, RecallK, nProbe))
      val appendParity = served == fresh(embs(s, dir))
      IvfPackedIndex.delete(s, root, 0L until 50L)
      val afterDelete = served
      val deleteParity =
        afterDelete == fresh(embs(s, dir).filter(col("vec_id") >= 50))
      IvfPackedIndex.compact(s, root)
      val compactParity = served == afterDelete &&
        graft.store.EpochCommit.committedCount(s, root) == 1
      import s.implicits._
      Seq((RecallK.toLong, if (appendParity) 1L else 0L,
        if (deleteParity) 1L else 0L, if (compactParity) 1L else 0L))
        .toDF("k", "append_parity", "delete_parity", "compact_parity")
    }

  /** The flagship top-10 probe through an LSH index frame. */
  private def annTopk(s: SparkSession, dir: String, index: => DataFrame): DataFrame = {
    val q = queryVec(s, dir)
    AnnIndex.queryTopK(index, q, 10, annCfg)
      .select(col("id"), round(col("score"), 6).as("score"))
      .orderBy(desc("score"), col("id"))
  }

  /** [[annTopk]] re-derived from scratch: query bucket per table from the
    * md5 planes, candidate union across the 16 tables (`candWhere` may
    * drop candidates), exact-cosine rank, (score DESC, id) tie-break,
    * k=10. Max-score dedup is a no-op in SQL (DISTINCT ids carry one
    * vector each).
    */
  private def annTopkOracle(candWhere: String): String =
    s"""WITH ${lshSigsCte(nTables = 16, nBits = 6)},
       |qb AS (SELECT t, bucket FROM sigs WHERE vec_id = 0),
       |cand AS (
       |  SELECT DISTINCT s.vec_id AS id
       |  FROM sigs s JOIN qb ON s.t = qb.t AND s.bucket = qb.bucket $candWhere),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |sc AS (
       |  SELECT c.id,
       |    SUM(CAST(e.embedding[r.i] AS DOUBLE) * CAST(q.qe[r.i] AS DOUBLE)) AS dot,
       |    SQRT(SUM(CAST(e.embedding[r.i] AS DOUBLE) * CAST(e.embedding[r.i] AS DOUBLE))) AS na,
       |    SQRT(SUM(CAST(q.qe[r.i] AS DOUBLE) * CAST(q.qe[r.i] AS DOUBLE))) AS nb
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.id
       |  CROSS JOIN q CROSS JOIN range(1, 65) r(i)
       |  GROUP BY c.id),
       |ranked AS (
       |  SELECT id, CASE WHEN na * nb = 0 THEN 0.0 ELSE dot / (na * nb) END AS score
       |  FROM sc ORDER BY score DESC, id LIMIT 10)
       |SELECT id, ROUND(score, 6) AS score FROM ranked
       |ORDER BY score DESC, id""".stripMargin

  val rows: Seq[Declared] = Seq(
    // E2: LSH probe against the PERSISTED index — built+written once per
    // (sfDir, JVM) via SessionCache, probed through read.parquet so the
    // (table, bucket) literals prune partitions at the scan, exactly the
    // 100 TB serving shape (round 3 rebuilt the index in memory per run).
    // 6 bits × 16 tables ≈ 500/2^6×16 ≈ 125 candidates over this corpus
    // size; at real scale raise nBits with |corpus| (buckets ∝ 2^bits).
    Declared("ann_topk", (s, dir) => annTopk(s, dir, lshIndex(s, dir)),
      oracle = annTopkOracle("")),

    // E2 (round-13): DELETE honored by the persisted ANN index — probe of
    // the tombstoned index (merge-on-read anti-join, pruning preserved)
    // must equal the LSH pipeline re-derived over ONLY the survivors;
    // the oracle excludes vec_id<50 from the candidate set.
    Declared("ann_delete_parity", (s, dir) => annTopk(s, dir, annDeleteIndex(s, dir)),
      // ann_topk's derivation with the tombstoned ids excluded from the
      // candidate set — everything else (planes, buckets, exact rerank,
      // tie-break) identical.
      oracle = annTopkOracle("WHERE s.vec_id >= 50")),

    // E2/E3: BATCH probe against the same persisted index (round-9) — the
    // serving path at query volume: 20 queries bucketed in one pass, the
    // touched (table,bucket) set pushed as PartitionFilters, candidates
    // deduped by max-score partial agg, ranked through the k-bounded
    // SimJoin reduction. The listing is seeded-LSH territory; the
    // DECLARED row (round-10) is batch==single-probe PARITY over all 20
    // queries (ids + rounded scores in rank order) — a computed invariant
    // hash-checked against a constant oracle, the ann_append_parity
    // pattern. AnnBatchSpec pins the same equality at spec level.
    Declared("ann_batch_topk", (s, dir) =>
      batchParity(s, dir, "ann_batch_parity")(
        AnnIndex.queryTopKBatch(lshIndex(s, dir), _, "vec_id", "embedding", RecallK, annCfg),
        AnnIndex.queryTopK(lshIndex(s, dir), _, RecallK, annCfg)),
      // Batch==single-probe parity (round-11, wiring the r10 refactor): the
      // Spark side runs the 20-query batch probe AND 20 single probes for
      // real and compares ids+rounded scores in rank order; the oracle pins
      // the only acceptable outcome — the ann_append_parity pattern.
      oracle = batchParityOracle, cached = true),

    // E2 quality floor for the batch probe: MEAN recall@10 across the 20
    // queries vs the exact sim-join. floor_met is the hashed value
    // (round-10); the seed-dependent scalar itself stays spec territory
    // (AnnBatchSpec re-computes it).
    Declared("ann_batch_recall", (s, dir) => {
      val queries = embs(s, dir).filter(col("vec_id") < 20)
      val approx = AnnIndex.queryTopKBatch(lshIndex(s, dir), queries,
        "vec_id", "embedding", RecallK, annCfg).select("q_id", "c_id")
      val exact = SimJoin.topKPerQuery(
          queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
          embs(s, dir).select(col("vec_id").as("c_id"), col("embedding").as("c_emb")),
          RecallK)
        .select("q_id", "c_id")
      exact.join(approx.withColumn("hit", lit(1)), Seq("q_id", "c_id"), "left")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(coalesce(col("hit"), lit(0))).cast("double").as("hits"))
        .select(lit(20L).as("n_queries"),
          when(col("hits") / col("n") >= RecallFloor, 1L).otherwise(0L).as("floor_met"))
    },
      oracle = "SELECT CAST(20 AS BIGINT) AS n_queries, CAST(1 AS BIGINT) AS floor_met"),

    // E2: IVF probe against the PERSISTED index — quantizer fit + index
    // write happen once per (sfDir, JVM); the probe ranks centroids
    // driver-side and scans the nProbe pruned cluster partitions.
    // Declared (round-13) as the probe==fresh-rerank parity +
    // recall-floor invariant row, hash-checked against a constant
    // oracle — the raw listing is seeded-k-means territory
    // (AnnBatchSpec pins it; bench_ivf_topk_single times the live
    // probe).
    Declared("ivf_topk", (s, dir) => ivfTopkParity(s, dir),
      // Round-13: the last two rows-only queries become invariant rows.
      // ivf_topk: the Spark side probes the persisted index for real and
      // compares against a fresh re-assignment rerank + the exact top-10
      // recall floor; the oracle pins the only acceptable outcome.
      oracle = """SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS parity,
        |  CAST(1 AS BIGINT) AS recall_floor_met""".stripMargin, cached = true),

    // E2 composition (round-15): QUANTIZED IVF serving — int8 index
    // probe + float re-rank of the candidate pool (4× less candidate
    // scan IO at 100 TB), declared as the float-exactness + recall-floor
    // invariant row against the float probe (the topk_cosine_quantized
    // claim, index-served).
    Declared("ivf_topk_quantized", (s, dir) => ivfQuantParity(s, dir),
      // Quantized-index serving: the Spark side probes the int8 index with
      // a float re-rank for real and checks the served scores are exact
      // float cosines + a 0.9 recall floor vs the float probe + the
      // byte-packed (BINARY codes) twin ranking identically; the oracle
      // pins the only acceptable outcome.
      oracle = """SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS rerank_float_exact,
        |  CAST(1 AS BIGINT) AS recall_floor_met,
        |  CAST(1 AS BIGINT) AS packed_parity""".stripMargin, cached = true),

    // E2 lifecycle (round-16): the persisted packed-IVF artifact through
    // build → append → shared-tombstone DELETE → swap COMPACT, each step
    // parity-checked against a fresh frozen-model rebuild of the
    // survivors (see ivfPackedLifecycle). The quantized serving index is
    // now maintained on disk like every other serving artifact, not
    // re-derived per session.
    Declared("ivf_packed_lifecycle", (s, dir) => ivfPackedLifecycle(s, dir),
      // Persisted packed-IVF lifecycle: append == rebuild, delete ==
      // rebuild-without, compact == no-op + epoch fan-in 1; the oracle
      // pins the only acceptable outcome.
      oracle = """SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS append_parity,
        |  CAST(1 AS BIGINT) AS delete_parity,
        |  CAST(1 AS BIGINT) AS compact_parity""".stripMargin, cached = true),

    // E2/E3: IVF batch probe against the persisted index (round-9) — each
    // query ranks the broadcast centroids and probes its own nProbe
    // clusters; touched clusters prune the scan; ids live in one cluster
    // each so no dedup stage. Declared (round-10) as batch==single-probe
    // PARITY over the 20 queries — the ann_batch_topk argument, IVF twin.
    Declared("ivf_batch_topk", (s, dir) => {
      val (model, idx) = ivfIndex(s, dir)
      val nProbe = IvfIndex.defaultNProbe(model.centroids.length)
      batchParity(s, dir, "ivf_batch_parity")(
        IvfIndex.queryTopKBatch(idx, model, _, "vec_id", "embedding", RecallK, nProbe),
        IvfIndex.queryTopK(idx, model, _, RecallK, nProbe))
    },
      oracle = batchParityOracle, cached = true),

    // E2/E3 (round-17): the BATCH face of the QUANTIZED serving path —
    // N standing queries against the PERSISTED packed artifact in one
    // plan (union-cluster pruned int8 candidate pass, per-query
    // k-bounded pool, union-pool id-pushdown float re-rank, exact float
    // scores); declared as batch == per-query persisted-probe parity.
    Declared("ivf_batch_topk_quantized", (s, dir) => {
      val (model, _) = ivfIndex(s, dir)
      val root = ivfPackedIdx(s, dir)
      val nProbe = IvfIndex.defaultNProbe(model.centroids.length)
      batchParity(s, dir, "ivf_batch_quant_parity")(
        IvfPackedIndex.queryTopKBatch(s, root, model, _, "vec_id", "embedding", RecallK, nProbe),
        IvfPackedIndex.queryTopK(s, root, model, _, RecallK, nProbe))
    },
      // Round-17: batch quantized probe == per-query persisted packed
      // probe, the only acceptable outcome.
      oracle = batchParityOracle, cached = true),

    // E2 monitoring (round-17): per-cluster size + cohesion over the
    // flagship IVF model — the read that sizes diversity caps and flags
    // drift regions. n_vectors is DuckDB-derived (every vector assigned
    // to exactly one cluster); the flags pin cluster-count sanity,
    // cohesion in range with a positive weighted mean (cosine-trained
    // k-means must resemble its members), and bounded skew (more than
    // one non-empty cluster).
    Declared("ivf_cluster_stats", (s, dir) => {
      val (model, _) = ivfIndex(s, dir)
      val stats = IvfIndex.clusterStats(embs(s, dir), "vec_id", "embedding", model)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      val total = stats.map(_._2).sum
      val clustersOk = stats.nonEmpty &&
        stats.length <= model.centroids.length && stats.forall(_._2 > 0)
      val cohesionOk =
        stats.forall { case (_, _, c) => c >= -1.0001 && c <= 1.0001 } &&
        stats.map { case (_, n, c) => c * n }.sum / total > 0
      val skewBounded = stats.map(_._2).max < total
      import s.implicits._
      Seq((total, if (clustersOk) 1L else 0L, if (cohesionOk) 1L else 0L,
        if (skewBounded) 1L else 0L))
        .toDF("n_vectors", "clusters_ok", "cohesion_ok", "skew_bounded")
    },
      // Cluster stats: every vector lands in exactly one cluster, so the
      // per-cluster counts SUM to the corpus size — DuckDB re-derives it;
      // the flags pin the only acceptable outcome.
      oracle = """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(1 AS BIGINT) AS clusters_ok, CAST(1 AS BIGINT) AS cohesion_ok,
        |  CAST(1 AS BIGINT) AS skew_bounded
        |FROM embeddings""".stripMargin),

    // E2 recall floors: |approx top-k ∩ exact top-k| / k for the two
    // persisted-index probes. The scalar is seed-dependent (the oracle
    // would have to replay the LSH/k-means); the FLOOR VERDICT is an
    // invariant — so the row emits (k, floor_met) and hash-checks against
    // a constant oracle (round-10, the ann_append_parity pattern). The
    // scalar itself stays observable at spec level (OperatorsSpec).
    // Round-11: with md5-portable planes the recall VALUE is itself
    // DuckDB-derivable (exact top-k ∩ probed top-k, both re-derived from
    // scratch), so this row emits the scalar instead of a floor flag —
    // stronger check, observable number, and no fixture-tuned threshold
    // to flip across sfs (the floor form broke at sf0.001 where this
    // single query's neighborhood hashes unluckily; quality floors live
    // in OperatorsSpec where the probed query is chosen to be stable).
    Declared("ann_recall", (s, dir) => {
      val exact = Similarity.topK(embs(s, dir), "embedding", "vec_id", queryVec(s, dir), RecallK)
        .select(col("vec_id").as("id"))
      AnnIndex.queryTopK(lshIndex(s, dir), queryVec(s, dir), RecallK, annCfg)
        .select("id").join(exact, Seq("id"))
        .agg(round(count(lit(1)).cast("double") / RecallK.toDouble, 6).as("recall"))
        .select(lit(RecallK.toLong).as("k"), col("recall"))
    },
      // Recall floors (round-11): the scalar recall is seed-dependent and
      // stays spec territory (OperatorsSpec/AnnBatchSpec re-compute it);
      // the floor VERDICT is the designed invariant — 4 bits × 12 tables
      // (dedup geometry) / nProbe clusters give comfortable margin over the
      // 0.5/0.6 floors, and a broken probe join fails loudly.
      // Recall@10 of the LSH probe, INDEPENDENTLY re-derived: both the
      // exact top-10 (brute-force cosine rank) and the probed top-10
      // (md5-plane buckets → candidate union → cosine rank) are computed
      // from scratch; the engine's reported recall must equal theirs.
      oracle = s"""WITH ${lshSigsCte(nTables = 16, nBits = 6)},
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |sc AS (
         |  SELECT e.vec_id,
         |    SUM(CAST(e.embedding[r.i] AS DOUBLE) * CAST(q.qe[r.i] AS DOUBLE)) AS dot,
         |    SQRT(SUM(CAST(e.embedding[r.i] AS DOUBLE) * CAST(e.embedding[r.i] AS DOUBLE))) AS na,
         |    SQRT(SUM(CAST(q.qe[r.i] AS DOUBLE) * CAST(q.qe[r.i] AS DOUBLE))) AS nb
         |  FROM embeddings e CROSS JOIN q CROSS JOIN range(1, 65) r(i)
         |  GROUP BY e.vec_id),
         |scored AS (
         |  SELECT vec_id, CASE WHEN na * nb = 0 THEN 0.0 ELSE dot / (na * nb) END AS score
         |  FROM sc),
         |exact AS (SELECT vec_id FROM scored ORDER BY score DESC, vec_id LIMIT 10),
         |qb AS (SELECT t, bucket FROM sigs WHERE vec_id = 0),
         |cand AS (
         |  SELECT DISTINCT s.vec_id
         |  FROM sigs s JOIN qb ON s.t = qb.t AND s.bucket = qb.bucket),
         |approx AS (
         |  SELECT vec_id FROM scored
         |  WHERE vec_id IN (SELECT vec_id FROM cand)
         |  ORDER BY score DESC, vec_id LIMIT 10)
         |SELECT CAST(10 AS BIGINT) AS k,
         |  ROUND(COUNT(*) / 10.0, 6) AS recall
         |FROM approx WHERE vec_id IN (SELECT vec_id FROM exact)""".stripMargin),

    Declared("ivf_recall", (s, dir) => {
      val (model, idx) = ivfIndex(s, dir)
      recallRow(s, dir, IvfIndex.queryTopK(idx, model, queryVec(s, dir), RecallK,
        nProbe = IvfIndex.defaultNProbe(model.centroids.length)))
    },
      oracle = "SELECT CAST(10 AS BIGINT) AS k, CAST(1 AS BIGINT) AS floor_met"),

    // E2 index MAINTENANCE (round-9): append-vs-rebuild probe parity for
    // both persisted indexes + the frozen-model drift verdict — the
    // invariants are constants, so this row is hash-checked against a
    // constant oracle (the computation is real; see annAppendParity).
    Declared("ann_append_parity", (s, dir) => annAppendParity(s, dir),
      // Append-parity invariants: the Spark side builds, appends and probes
      // both indexes for real; the oracle pins the only acceptable outcome
      // (probe parity, no refit on a same-distribution batch) — the
      // embed_hash invariant-oracle pattern.
      oracle = """SELECT CAST(10 AS BIGINT) AS k,
        |  CAST(1 AS BIGINT) AS parity_lsh,
        |  CAST(1 AS BIGINT) AS parity_compact,
        |  CAST(1 AS BIGINT) AS parity_ivf,
        |  CAST(0 AS BIGINT) AS refit_recommended""".stripMargin, cached = true),
  )
}
