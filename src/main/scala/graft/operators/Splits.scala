package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deterministic dataset splitting and sub-sampling for training
  * pipelines. The reference has no split machinery; a 100 TB pretraining
  * corpus needs REPRODUCIBLE train/val/test assignment — `sample()` /
  * `randomSplit()` depend on partitioning and RNG state, so the same doc
  * can land in different splits across runs, engines, or corpus
  * revisions. Here assignment is a pure function of the row's id: first
  * 8 hex chars of `md5(id)` → bucket in [0, buckets) → cumulative weight
  * ranges. Properties a random sampler lacks:
  *
  *  - stable under corpus growth: a doc's split never changes when other
  *    docs are added or removed (no leakage of held-out docs into train
  *    on a corpus refresh);
  *  - engine-independent: any system with md5 reproduces the assignment
  *    bit-for-bit (the driver's DuckDB oracle replays it in SQL);
  *  - pure codegen column arithmetic — no UDF, no RNG, no shuffle.
  */
object Splits {

  /** Hash bucket in [0, buckets): `conv(substr(md5(salt || ':' || id),
    * 1, 8), 16, 10) % buckets`. 8 hex chars = 32 bits — fits a long
    * exactly; md5's uniformity makes bucket populations binomial around
    * n/buckets.
    *
    * The SALT decorrelates independent uses: [[assignSplit]] and
    * [[deterministicSample]] default to different salts, so
    * sample-then-split does NOT collapse to "every sampled row is
    * train" (which is exactly what happens when both decisions read the
    * same unsalted hash — a sampled row's bucket would always be below
    * the train cut).
    *
    * A NULL id raises at execution: a null would otherwise be silently
    * routed (no CaseWhen branch matches → last split) or silently
    * dropped (filter evaluates null) — both are data bugs, not split
    * policy.
    */
  def hashBucket(id: Column, buckets: Int = 10000, salt: String = ""): Column = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val b = conv(substring(md5(concat(lit(salt), lit(":"), id.cast("string"))), 1, 8), 16, 10)
      .cast("long") % buckets
    when(id.isNull,
      raise_error(lit("Splits: null id — assign explicit ids before splitting")))
      .otherwise(b)
  }

  /** Assign each row a named split: `weights` are (name, fraction) pairs
    * summing to 1; row goes to the first split whose cumulative bucket
    * cut exceeds its hash bucket. Appends a `split` column.
    */
  def assignSplit(df: DataFrame, idCol: String,
                  weights: Seq[(String, Double)],
                  buckets: Int = 10000, salt: String = "split"): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.forall(_._2 >= 0.0), "fractions must be >= 0")
    val total = weights.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9, s"fractions must sum to 1, got $total")
    val b = hashBucket(col(idCol), buckets, salt)
    val cuts = weights.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(f => math.round(f * buckets))
    val cased = weights.init.zipWithIndex.foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), i)) =>
        val cond = b < lit(cuts(i))
        Some(acc.fold(when(cond, name))(_.when(cond, name)))
    }
    // last split is the otherwise-branch, so rounding in the cuts can
    // never leave a bucket unassigned
    val assigned = cased.fold(lit(weights.last._1): Column)(_.otherwise(weights.last._1))
    df.withColumn("split", assigned)
  }

  /** Deterministic sub-sample: keep rows whose hash bucket falls below
    * `fraction` of the bucket space — the stable alternative to
    * `df.sample(fraction)` (same rows every run, every engine, any
    * partitioning).
    */
  def deterministicSample(df: DataFrame, idCol: String, fraction: Double,
                          buckets: Int = 10000, salt: String = "sample"): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction must be in [0,1], got $fraction")
    df.filter(hashBucket(col(idCol), buckets, salt) < lit(math.round(fraction * buckets)))
  }

  /** SEQUENCE PACKING: assign each document to a fixed-token-budget
    * training sequence — the step between curation and tokenization in a
    * pretraining build. Documents are taken in `idCol` order; a document
    * whose EXCLUSIVE running token sum has consumed `k` full budgets goes
    * to sequence `k` (`seq_id = floor(prefix_sum / budgetTokens)`), which
    * is the deterministic first-fit-in-order packing with boundary docs
    * assigned to the sequence they start in.
    *
    * Scale contract: the naive formulation is `SUM(tokens) OVER (ORDER BY
    * id)` — a GLOBAL window, one task. This implementation is the
    * [[graft.store.DocStore.assignIdsOrdered]] shape instead:
    * range-partition by id + sort within partitions, one lightweight
    * per-partition token-total job, broadcast the per-partition offsets,
    * then a narrow map computes each row's exclusive prefix locally.
    * Cross-job layout consistency comes from shuffle-file reuse (the
    * boundaries sample once; later jobs stage-skip to the same map
    * outputs). Output appends `seq_id`.
    *
    * `tokensCol` is any Column: pass an EXISTING count column (e.g. the
    * fused metrics' `n_tokens` a quality filter already computed —
    * [[graft.operators.TextAnalysis.metrics]]) rather than a fresh
    * `tokenCount(text)` whenever the pipeline has one. The packing scan
    * evaluates `tokensCol` over the whole corpus; at 100 TB,
    * re-tokenizing here is the dominant cost of the pack (SCALE.md
    * rounds 8–9: 37.4 s at 2.5M docs; 5.5 s → 0.65 s at 250k docs with
    * a precomputed column), pure column reads are ~free.
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: Column,
                    budgetTokens: Long, seqCol: String = "seq_id"): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    // scratch/output collisions corrupt silently (withColumn REPLACES an
    // existing column and the scratch is dropped from the output) — refuse
    // loudly instead, the explodeChunks contract
    require(!df.columns.contains("__tok"),
      "packSequences: input already has a '__tok' column (internal scratch) — rename it first")
    require(!df.columns.contains(seqCol),
      s"packSequences: input already has a '$seqCol' column — pass a different seqCol")
    val spark = df.sparkSession
    // null token counts (e.g. size() of a null array) pack as 0 rather
    // than NPE-ing the offsets job
    val arranged = df.withColumn("__tok", coalesce(tokensCol.cast("long"), lit(0L)))
      .repartitionByRange(col(idCol))
      .sortWithinPartitions(col(idCol))
    val rdd = arranged.rdd
    val tokIdx = arranged.schema.fieldIndex("__tok")
    // one lightweight job: per-partition token totals → exclusive offsets
    val partTotals = rdd.mapPartitionsWithIndex { (i, it) =>
      var s = 0L
      it.foreach(r => s += r.getLong(tokIdx))
      Iterator((i, s))
    }.collect().toMap
    val nParts = rdd.getNumPartitions
    val offsets = new Array[Long](nParts)
    var acc = 0L
    (0 until nParts).foreach { i => offsets(i) = acc; acc += partTotals.getOrElse(i, 0L) }
    val schema = StructType(arranged.schema.fields.filterNot(_.name == "__tok") :+
      StructField(seqCol, LongType, nullable = false))
    val packed = rdd.mapPartitionsWithIndex { (i, it) =>
      var pre = offsets(i)
      it.map { r =>
        val seq = pre / budgetTokens
        pre += r.getLong(tokIdx)
        Row.fromSeq(r.toSeq.patch(tokIdx, Nil, 1) :+ seq)
      }
    }
    spark.createDataFrame(packed, schema)
  }

  /** Deterministic MIXTURE sampling: down-sample each group (source /
    * domain / language) toward `budgetPerGroup` tokens — the data-mixing
    * step of a pretraining build, where raw source sizes are wildly
    * skewed and the recipe prescribes the target mass per source.
    * Per-group keep-rate = min(1, budget / total_tokens(group)); rows
    * are selected by salted hash bucket, so the kept token mass lands at
    * ≈budget in expectation while membership stays reproducible across
    * runs, engines, and corpus revisions (a doc that survives today's
    * build survives tomorrow's unless its own group shrinks the rate).
    *
    * Scale contract: one partial-agg scan for group totals (result rows =
    * |groups|, broadcast back) + one codegen filter pass. Deliberately NOT
    * a per-group running-sum window, which would put each group's entire
    * corpus in one task — exact-budget packing does not survive a 100 TB
    * source; expected-budget rate selection does.
    */
  def sampleToTokenBudget(df: DataFrame, idCol: String, groupCol: String,
                          tokensCol: Column, budgetPerGroup: Long,
                          buckets: Int = 10000, salt: String = "mix"): DataFrame = {
    require(budgetPerGroup > 0, s"budgetPerGroup must be positive, got $budgetPerGroup")
    val rates = df.groupBy(col(groupCol))
      .agg(sum(tokensCol).as("__total_tokens"))
      .select(col(groupCol),
        least(lit(1.0), lit(budgetPerGroup.toDouble) / col("__total_tokens"))
          .as("__keep_rate"))
    // floor, not round: floor is identical across engines (round-half
    // rules differ), keeping the cut oracle-reproducible
    df.join(broadcast(rates), Seq(groupCol))
      .filter(hashBucket(col(idCol), buckets, salt) <
        floor(col("__keep_rate") * buckets).cast("long"))
      .drop("__keep_rate")
  }

  /** Deterministic GLOBAL SHUFFLE of a training corpus — the
    * order-randomization pass every pretraining pipeline runs before
    * sharding (examples must not arrive grouped by source/time, and the
    * order must be REPRODUCIBLE for resumable/debuggable training runs).
    * Same discipline as the rest of this file: no RNG — the order key is
    * `md5(salt || ':' || id)`, so any engine with md5 derives the exact
    * same permutation, and re-running after a failure yields it again.
    *
    * Scale contract: this plans as a range-partitioned sort on the key
    * (sample → range exchange → per-partition sort) — the one full
    * shuffle the operation IS; there is no cheaper way to globally
    * reorder 100 TB, and writing the result partitioned by key-range
    * gives the sharded, shuffled training layout directly. No window, no
    * single-partition stage, no driver hop.
    */
  def globalShuffle(df: DataFrame, idCol: String,
                    salt: String = "shuffle"): DataFrame =
    df.withColumn("shuffle_key",
        md5(concat(lit(salt), lit(":"), col(idCol).cast("string"))))
      .orderBy(col("shuffle_key"), col(idCol))

  /** Deterministic STRATIFIED sampling: each row carries a stratum label
    * (a quality tier, a curriculum stage, a toxicity band) and the
    * recipe prescribes a keep-rate per stratum — the curriculum /
    * quality-mixing step of a corpus build, where high-quality docs are
    * kept whole and low-quality mass is thinned rather than cliff-cut.
    * Selection is the same salted-md5-bucket arithmetic as
    * [[sampleToTokenBudget]]: membership is reproducible across runs,
    * engines, and corpus revisions, and a doc's fate changes only if its
    * OWN stratum's rate changes.
    *
    * Scale contract: the rate table is a literal CASE expression — zero
    * joins, zero extra scans, one codegen filter pass over the corpus.
    * Unknown strata are a policy decision, not a silent drop: they keep
    * `defaultRate` (0.0 = drop, 1.0 = keep-all).
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: Column,
                       rates: Seq[(String, Double)], defaultRate: Double = 0.0,
                       buckets: Int = 10000, salt: String = "strata"): DataFrame = {
    require(rates.nonEmpty, "rates must be non-empty")
    rates.foreach { case (s, r) =>
      require(r >= 0.0 && r <= 1.0, s"rate for '$s' out of [0,1]: $r") }
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (stratum, r)) =>
      when(strataCol === stratum, lit(r)).otherwise(acc)
    }
    // floor, not round: identical across engines (round-half rules differ)
    df.filter(hashBucket(col(idCol), buckets, salt) <
      floor(rate * buckets).cast("long"))
  }

  /** DIVERSITY-capped sampling (round-17): at most `perClusterCap` docs
    * from each SEMANTIC cluster of the embedding space — the curation
    * pass that stops a training mix from being dominated by its densest
    * regions (boilerplate families, template clones, over-crawled
    * topics) while never starving sparse ones: a cluster smaller than
    * the cap keeps EVERYTHING, a bigger one keeps a deterministic
    * pseudo-random `perClusterCap`-subset. The per-cluster keep-decision
    * is the same salted-md5 id hash as every sampler here (stable under
    * corpus growth ONLY within an unchanged cluster assignment — the
    * centroid model is a parameter, frozen by the caller, so the sample
    * is reproducible for a given (model, seed)).
    *
    * Scale contract: assignment is the broadcast-model projection
    * ([[IvfIndex.buildIndex]] — one pass, no shuffle), and the
    * per-cluster cut rides [[SimJoin.rankTopK]]'s k-bounded two-level
    * reduction: each task forwards at most `perClusterCap` rows per
    * cluster, so the one exchange carries ≤ tasks·clusters·cap rows —
    * NEVER a per-cluster sort/window over the corpus, and never the
    * corpus itself. Output: `(cluster, id, rank)` — join back on id for
    * the sampled rows.
    */
  def diversitySample(emb: DataFrame, idCol: String, embCol: String,
                      model: IvfIndex.Model, perClusterCap: Int,
                      seed: String = "diversity"): DataFrame = {
    require(perClusterCap > 0, s"perClusterCap must be positive, got $perClusterCap")
    val spark = emb.sparkSession
    import spark.implicits._
    val scored = IvfIndex.buildIndex(emb, idCol, embCol, model)
      .select(col("cluster").cast("long").as("q_id"), col("id").as("c_id"),
        // deterministic per-id priority (higher hash wins; ties by id via
        // the shared total order) — a pure function of (seed, id), so the
        // kept subset is reproducible across runs, engines, partitionings
        hashBucket(col("id"), buckets = 1 << 30, salt = seed)
          .cast("double").as("score"))
      .as[SimJoin.Scored]
    SimJoin.rankTopK(scored, perClusterCap)
      .select(col("q_id").cast("int").as("cluster"), col("c_id").as("id"),
        col("rank"))
  }
}
