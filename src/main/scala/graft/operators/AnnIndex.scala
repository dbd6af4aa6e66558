package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Approximate-nearest-neighbor index via sign-random-projection LSH
  * (random hyperplanes — the classic cosine LSH of Charikar'02, SURVEY
  * §2.3 E2). The reference has no index at all (exact scan,
  * `/root/reference/vectolite.py:145-171`); this is the component that
  * makes similarity search sub-scan at 100 TB.
  *
  * Design:
  *  - `nTables` independent hash tables, each `nBits` hyperplanes;
  *    hyperplanes are DETERMINISTIC functions of (seed, table, bit, dim
  *    index) via murmur3 — no RNG state, so any executor can recompute
  *    them and index builds are reproducible.
  *  - The "index" is a plain DataFrame `(table, bucket, id, embedding)`,
  *    written `partitionBy("table", "bucket")` — bucket probes become
  *    partition pruning at the parquet scan, the distributed analogue of
  *    an inverted index lookup.
  *  - Querying probes the query's bucket in each table, unions candidates,
  *    and re-ranks them with the exact codegen cosine — approximate recall,
  *    exact scores.
  */
object AnnIndex {

  /** nBits is capped at 31 so [[bucketOf]] never sets the sign bit
    * (`1 << 31`): buckets stay non-negative, which [[probeBatch]]'s packed
    * `table<<32|bucket` pruning key and the partition-dir naming both
    * rely on. nBits > 32 would additionally WRAP `1 << b`, silently
    * colliding planes into fewer effective bits (degraded recall with no
    * error) — hence a hard require, not a doc note.
    */
  final case class Config(dim: Int, nBits: Int = 16, nTables: Int = 8, seed: Int = 42) {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(nBits >= 1 && nBits <= 31, s"nBits must be in [1, 31], got $nBits")
    require(nTables >= 1, s"nTables must be >= 1, got $nTables")
  }

  /** Deterministic pseudo-gaussian plane component for (table, bit, i).
    *
    * PORTABLE hash (round-11): the component is derived from
    * `md5("plane:seed:table:bit:i")` — three 8-hex-digit chunks read as
    * uniforms `u_j = chunk_j / 2^32 ∈ [0,1)`, Irwin–Hall-summed and
    * centered to `2·(u_1+u_2+u_3) − 3 ∈ [−3,3)` (close enough to gaussian
    * for sign-random-projection LSH). Every intermediate here is an EXACT
    * double (each u_j is a 32-bit dyadic rational; their sum carries ≤ 34
    * significand bits; ×2 and −3 are exact), so ANY engine with an md5
    * function reproduces the planes bit-identically:
    * `2*(('0x'||substr(md5(k),1,8))::BIGINT/4294967296.0 + …) - 3` in
    * DuckDB yields the same doubles — which is what lets the declared LSH
    * rows (`near_dup_lsh`, `ann_topk`, the streaming probes) hash-check
    * against plain-SQL oracles that re-derive every bucket from scratch.
    * No RNG state either way: any executor recomputes planes from the
    * config alone, so index builds and appends stay reproducible.
    */
  private def planeAt(cfg: Config, table: Int, bit: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane:${cfg.seed}:$table:$bit:$i"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def chunk(off: Int): Double = {
      val v = ((d(off) & 0xffL) << 24) | ((d(off + 1) & 0xffL) << 16) |
        ((d(off + 2) & 0xffL) << 8) | (d(off + 3) & 0xffL)
      v.toDouble / 4294967296.0
    }
    2.0 * (chunk(0) + chunk(4) + chunk(8)) - 3.0
  }

  /** All planes of one table: nBits × dim. */
  def tablePlanes(cfg: Config, table: Int): Array[Array[Double]] =
    Array.tabulate(cfg.nBits)(b => Array.tabulate(cfg.dim)(i => planeAt(cfg, table, b, i)))

  /** Bucket id of a vector in one table: nBits sign bits. The dot is
    * accumulated in double over ascending dim index — the same fold any
    * SQL twin's SUM performs; sign margins on real embeddings sit far
    * above summation-order rounding (~1e-15 relative), so the bucket is
    * engine-portable in practice and pinned by the oracle rows.
    */
  def bucketOf(v: Array[Float], planes: Array[Array[Double]]): Int = {
    var sig = 0
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      require(p.length == v.length,
        s"ann bucket: dimension mismatch ${v.length} vs cfg.dim ${p.length}")
      var dot = 0.0
      var i = 0
      while (i < p.length) { dot += p(i) * v(i); i += 1 }
      if (dot > 0) sig |= (1 << b)
      b += 1
    }
    sig
  }

  /** Index build (E2): one row per (table, bucket, id, embedding). The
    * explode is table-count-bounded (nTables ≤ 16), so the index is
    * nTables × |corpus| rows — linear, shuffle-free (narrow map).
    */
  def buildIndex(emb: DataFrame, idCol: String, embCol: String, cfg: Config): DataFrame = {
    // Planes are computed ONCE here and captured by the closure — per-row
    // regeneration would cost ~3 murmur hashes per plane element per row.
    // ONE UDF call computes every table's bucket (single Seq→Array
    // conversion per vector); posexplode then yields the table ids — this
    // halved-again index build time vs an explode-then-bucket-per-row
    // shape at the 400k-vector rehearsal.
    val planes = Array.tabulate(cfg.nTables)(t => tablePlanes(cfg, t))
    val bucketsUdf = udf { (v: Seq[Float]) =>
      val a = v.toArray
      planes.map(p => bucketOf(a, p))
    }
    emb.select(col(idCol).cast("long").as("id"), col(embCol).as("embedding"))
      .withColumn("__graft_buckets", bucketsUdf(col("embedding")))
      .select(posexplode(col("__graft_buckets")).as(Seq("table", "bucket")),
        col("id"), col("embedding"))
  }

  /** On-disk format version of a persisted LSH layout (1 = the
    * `partitionBy(table, bucket)` parquet tree with `_tombstones` /
    * `_meta` sidecars).
    */
  val FormatVersion = 1

  /** The `_meta` format (round-20; VERDICT r19 closed this hazard class
    * for IVF/dHash/BM25): every bucket on disk is a deterministic
    * function of (dim, nBits, nTables, seed), so the path records its
    * config. Every read requires all five keys; a config-free read
    * compares the format version only, [[layout]] adds a caller's config.
    */
  private val Layout = graft.store.MetaSidecar.Format("ann (LSH) index",
    Seq("formatVersion", "dim", "nBits", "nTables", "seed"),
    Map("formatVersion" -> FormatVersion),
    "different configs derive different hyperplanes, so appends would mis-bucket " +
      "and probes would scan the wrong dirs, both silently")

  /** [[Layout]] for an index built with `cfg`: a probe or append under
    * another config is refused.
    */
  private def layout(cfg: Config): graft.store.MetaSidecar.Format =
    Layout.expecting("dim" -> cfg.dim, "nBits" -> cfg.nBits, "nTables" -> cfg.nTables,
      "seed" -> cfg.seed)

  /** Persist the index partitioned by (table, bucket) so probes prune.
    * Repartitioning ON the partition columns first means each output dir
    * is written by exactly one task (one file per populated (table,
    * bucket)) and the up-to-nTables×2^nBits dirs are created in parallel
    * across the shuffle partitions — without it, every input task opens a
    * writer per dir it touches: the small-files explosion that made the
    * sf0.1 write 24 s single-threaded.
    *
    * Takes the build [[Config]] (round-20) so the artifact records its
    * own hyperplane constants in `_meta` — `cfg` must be the
    * one `index` was built with (it is in every call shape, since the
    * frame comes from [[buildIndex]] with the same config in hand).
    */
  def writeIndex(index: DataFrame, path: String, cfg: Config): Unit = {
    writeIndexData(index, path)
    graft.store.MetaSidecar.stamp(index.sparkSession, path, layout(cfg))
  }

  /** The raw partitioned write, sidecar-free — compact rewrites through
    * this (it carries the RECORDED meta, not a caller config).
    */
  private def writeIndexData(index: DataFrame, path: String): Unit =
    index.repartition(col("table"), col("bucket"))
      .write.mode("overwrite").partitionBy("table", "bucket").parquet(path)

  /** APPEND a new batch into an existing persisted index — the daily-drop
    * path: hyperplanes are deterministic functions of (seed, table, bit),
    * so new rows bucket EXACTLY as a rebuild would and can be appended
    * into the existing `partitionBy(table, bucket)` layout without
    * touching old files (append only adds files to the dirs it lands in).
    * Probing the appended index is bit-identical to probing a
    * from-scratch rebuild over old ∪ new (same buckets, same exact
    * re-rank) — the property AnnAppendSpec pins.
    *
    * Same repartition-on-partition-columns discipline as [[writeIndex]]:
    * one writer task per touched (table, bucket) dir. At 100 TB this
    * turns "any new data → rebuild the whole index" (SCALE.md measured
    * 312 s at 1M vectors) into a job linear in the BATCH alone.
    *
    * Caveats: (1) the caller owns id-uniqueness across batches — append
    * does not dedup (pair with [[graft.operators.Dedup.dedupIncremental]]
    * upstream); (2) `cfg` must equal the build config — enforced since
    * round-20 against the artifact's `_meta` sidecar (a mismatch
    * refuses loudly instead of silently mis-bucketing); (3) after an
    * append, re-list the path
    * (`spark.read.parquet`) — a cached file index predates the new
    * files.
    */
  def appendToIndex(newRows: DataFrame, path: String, idCol: String,
                    embCol: String, cfg: Config): Unit = {
    val spark = newRows.sparkSession
    graft.store.MetaSidecar.check(spark, path, layout(cfg))
    // under the swap lock (r20 advisor): this mode("append") write is
    // neither epoch-committed nor tombstone-sidecar'd, so without the
    // lock a concurrent compactIndex's rewrite could list the tree
    // BEFORE these files land and swap them away — a silently lost
    // append, the same lost-write class the tombstone writers close.
    // The lock serializes append against compact: the rows either fold
    // into the rewrite or land after the swap completes.
    graft.store.DocStore.withSwapLock(spark, path) {
      buildIndex(newRows, idCol, embCol, cfg)
        .repartition(col("table"), col("bucket"))
        .write.mode("append").partitionBy("table", "bucket").parquet(path)
    }
  }

  /** COMPACT an index that accumulated per-append files (round-9, pairs
    * with [[appendToIndex]]): every append adds ≥1 parquet file to each
    * (table, bucket) dir it touches, so a long-running daily pipeline
    * degrades probe scans into many-small-file reads. This rewrites the
    * whole index back to one file per populated dir and atomically swaps
    * it in ([[graft.store.DocStore.swapDirContents]] — same single-writer
    * lock and rename dance as the store swap; readers keep the old
    * listing mid-swap). Probe results are unchanged; refresh any cached
    * file index (`spark.read.parquet`) afterwards. Run it on the
    * append-count cadence, not per append — it rescans the full index.
    * Tombstoned rows are folded away; an index whose every row is
    * tombstoned is refused ([[graft.store.EpochCommit.swapRewrite]]).
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    graft.store.EpochCommit.swapRewrite(spark, path, tombstones,
        readIndex(spark, path)) { tmp =>
      writeIndexData(readIndex(spark, path), tmp)
      // the swap replaces the WHOLE dir and compact takes no Config of
      // its own: it carries the RECORDED constants into the tmp tree
      graft.store.MetaSidecar.carry(spark, path, tmp, Layout)
    }

  private val tombstones = graft.store.Tombstones("_tombstones", "id", "vector")

  /** DELETE ids from the persisted index without touching its files —
    * the store's O4 verb honored by the maintained artifact: ids land in
    * an `_tombstones` sidecar (underscore-prefixed so Spark's partition
    * discovery of the index layout ignores it) and every probe through
    * [[readIndex]] anti-joins them, merge-on-read. Cost: one tiny write,
    * independent of index size. [[compactIndex]] folds tombstones into a
    * physical rewrite. Double deletes are idempotent (the anti-join is a
    * set subtraction). Caveat: EVERY passed id is tombstoned without an
    * existence check (unlike [[IndexedBm25.delete]], pricing needs no
    * sidecar here and checking would cost an index scan), and a
    * tombstone suppresses its id even in rows appended AFTER the delete
    * — so ids, including never-ingested ones passed by mistake, must not
    * be (re)used by appends within a compact cycle (the store's monotone
    * assignment never reuses ids).
    */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "ann delete: empty id list")
    tombstones.record(spark, path, ids)
  }

  /** Merge-on-read view of a persisted index: the raw partitioned read
    * (so probe predicates still prune (table, bucket) dirs — the filter
    * pushes below the anti-join) minus the tombstoned ids (broadcast —
    * bounded by deletions since the last compact). Use this instead of a
    * raw `spark.read.parquet(path)` wherever deletions may exist.
    */
  def readIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    read(spark, path, Layout)

  /** [[readIndex]] for a caller about to PROBE with `cfg`: additionally
    * refuses an artifact whose recorded config differs (a mismatched
    * probe computes its buckets under foreign hyperplanes and scans the
    * wrong dirs, silently). One sidecar read per call.
    */
  def readIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                cfg: Config): DataFrame =
    read(spark, path, layout(cfg))

  private def read(spark: org.apache.spark.sql.SparkSession, path: String,
                   format: graft.store.MetaSidecar.Format): DataFrame = {
    graft.store.MetaSidecar.check(spark, path, format)
    tombstones.fold(spark, path, spark.read.parquet(path))
  }

  /** Approximate top-k: probe the query's bucket in every table, score
    * every candidate with the exact codegen cosine, dedup across tables,
    * take k. Probe predicates are literal (table, bucket) pairs — pushed
    * into the scan (partition pruning when the index was written with
    * [[writeIndex]]).
    *
    * Scoring happens BEFORE the cross-table dedup: an id that collides in
    * several tables carries the same vector in each, so max(score) per id
    * IS its score — the dedup becomes a partial-agg-friendly hash
    * aggregate over 16-byte (id, score) pairs instead of a SortAggregate
    * dragging embedding arrays through the exchange (3.2 s → sub-second
    * on the sf0.1 probe).
    */
  def queryTopK(index: DataFrame, queryVec: Array[Float], k: Int, cfg: Config): DataFrame = {
    val probes = (0 until cfg.nTables).map { t =>
      col("table") === t && col("bucket") === bucketOf(queryVec, tablePlanes(cfg, t))
    }.reduce(_ || _)
    index.filter(probes)
      .select(col("id"),
        graft.functions.VectorFunctions.cosine_sim(
          col("embedding"), typedlit(queryVec.toSeq)).as("score"))
      .groupBy("id").agg(max(col("score")).as("score"))
      .orderBy(desc("score"), col("id").asc)
      .limit(k)
  }

  /** Convenience: build + probe in one shot (index not persisted). */
  def approxTopK(emb: DataFrame, idCol: String, embCol: String,
                 queryVec: Array[Float], k: Int, cfg: Config): DataFrame =
    queryTopK(buildIndex(emb, idCol, embCol, cfg), queryVec, k, cfg)

  /** BATCH probe (round-9): approximate top-k for EVERY query row through
    * the index — the serving path for query volume, where
    * [[SimJoin.topKPerQuery]] is the exact full-scan and [[queryTopK]]
    * the single-vector probe. Per query this returns exactly what
    * [[queryTopK]] would (same buckets, same exact re-rank, same
    * tie-break) — AnnBatchSpec pins the equality.
    *
    * Shape: queries are bucketed with the same deterministic planes (one
    * UDF pass, posexplode to (table, bucket, q_id, q_emb)); the batch's
    * distinct (table, bucket) set — at most |queries|·nTables pairs — is
    * collected and pushed as a PartitionFilters predicate so a persisted
    * index scans only the touched dirs (a bare join cannot prune
    * statically; past `maxPruneLiterals` the filter is skipped since the
    * probe set approaches the whole index anyway). Candidates join on
    * (table, bucket), score with the codegen cosine, dedup across tables
    * by max-score partial agg (same trick as [[queryTopK]] — an id
    * colliding in several tables carries the same vector, so max IS the
    * score), then rank through [[SimJoin.rankTopK]]'s two-level k-bounded
    * reduction: the final exchange moves O(|queries|·k·partitions) rows,
    * never the raw candidate stream.
    *
    * Output: `(q_id, c_id, score, rank)`, rank 1..k by (score desc, c_id
    * asc). A query whose buckets are all empty yields no rows (it has no
    * candidates — mirror of the empty-table probe).
    */
  def queryTopKBatch(index: DataFrame, queries: DataFrame, qIdCol: String,
                     qEmbCol: String, k: Int, cfg: Config,
                     maxPruneLiterals: Int = 4096): DataFrame = {
    graft.core.Validate.positiveTopK(k)
    val spark = index.sparkSession
    import spark.implicits._
    val (qb, pruned) = probeBatch(index, queries, qIdCol, qEmbCol, cfg, maxPruneLiterals)
    val scored = pruned.join(qb, Seq("table", "bucket"))
      .select(col("q_id"), col("id").as("c_id"),
        graft.functions.VectorFunctions.cosine_sim(col("embedding"), col("q_emb")).as("score"))
      .groupBy("q_id", "c_id").agg(max(col("score")).as("score"))
      .as[SimJoin.Scored]
    SimJoin.rankTopK(scored, k)
  }

  /** Shared batch-serving machinery of [[queryTopKBatch]] and
    * [[dedupIncrementalLSH]]: bucket every query row with the
    * deterministic planes (one UDF pass, posexplode to
    * (table, bucket, q_id, q_emb)) and prune the index scan to the
    * batch's touched (table, bucket) set. Returns (bucketed queries,
    * pruned index) ready to equi-join on (table, bucket).
    */
  /** Per-table bucket array (nTables ints) of a vector column — the
    * shared bucketing face of the batch probe, the incremental dedup,
    * and the streaming probe ([[graft.streaming.Streams.annProbeStream]]).
    * The planes are deterministic functions of the config, recomputed
    * wherever the column is evaluated — no broadcast state to manage.
    */
  def bucketsOf(embCol: org.apache.spark.sql.Column, cfg: Config): org.apache.spark.sql.Column = {
    val planes = Array.tabulate(cfg.nTables)(t => tablePlanes(cfg, t))
    val u = udf { (v: Seq[Float]) =>
      val a = v.toArray
      planes.map(p => bucketOf(a, p))
    }
    u(embCol)
  }

  private def probeBatch(index: DataFrame, queries: DataFrame, qIdCol: String,
                         qEmbCol: String, cfg: Config,
                         maxPruneLiterals: Int): (DataFrame, DataFrame) = {
    // localCheckpoint BEFORE collecting the touched set: the bucketed
    // query frame is otherwise evaluated twice (touched-set collect +
    // join), and a nondeterministic upstream (sample/rand/re-read mutable
    // source) could hash the joined queries into buckets the collected
    // prune set excluded — silently dropping candidates. The checkpoint
    // pins ONE evaluation both consumers share; it is batch-sized
    // (≤ |queries|·nTables rows) and its blocks are released by the
    // ContextCleaner when the returned frame is GC'd. LAZY (eager=false):
    // the touched-set collect right below is the first action, so the
    // pin costs no extra job (round-11, per the r10 advisor). Tradeoff a
    // cluster deployment accepts: local checkpoints are non-replayable —
    // losing an executor mid-probe fails the query instead of recomputing
    // (retry the batch; the alternative, reliable `checkpoint()`, costs a
    // full write to the checkpoint dir per probe).
    val qb = queries
      .select(col(qIdCol).cast("long").as("q_id"), col(qEmbCol).as("q_emb"))
      .withColumn("__graft_buckets", bucketsOf(col("q_emb"), cfg))
      .select(posexplode(col("__graft_buckets")).as(Seq("table", "bucket")),
        col("q_id"), col("q_emb"))
      .localCheckpoint(eager = false)
    // ≤ |queries|·nTables pairs — bounded by the batch, driver-safe
    val touched = qb.select(col("table"), col("bucket")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    // ONE flat In over a combined key, not an OR-chain: reduce(_ || _)
    // builds a left-deep tree whose plan-conversion recursion overflows
    // the driver stack past ~2k pairs (hit at the 500-query × 8-table
    // rehearsal). Both operands are non-negative (nBits ≤ 31), so the
    // packed long is collision-free; the predicate references only
    // partition columns, so it still lands in PartitionFilters.
    val pruned =
      if (touched.length <= maxPruneLiterals && touched.nonEmpty)
        index.filter((col("table").cast("long") * (1L << 32) + col("bucket"))
          .isin(touched.map { case (t, b) => t.toLong * (1L << 32) + b }: _*))
      else index
    (qb, pruned)
  }

  /** Incremental embedding near-dedup — the daily-batch shape of the
    * near-dup family (the [[graft.operators.Dedup.dedupIncremental]]
    * analogue for embedding space): dedup the NEW batch within itself
    * (LSH pairs → connected components → min-id survivor), then drop
    * every survivor whose exact cosine against ANY indexed corpus vector
    * exceeds `threshold`. The output is ready to [[appendToIndex]] — the
    * complete daily-drop loop (probe → drop → append) with no index
    * rebuild.
    *
    * Scale contract: the corpus never re-scans per batch — it is
    * represented ONLY by its persisted index, and the batch's touched
    * (table, bucket) set prunes the scan ([[probeBatch]]); the verify
    * join carries batch-sized rows. An any-hit drop needs no top-k rank
    * stage: candidates go straight to a distinct dup-id set. Recall is
    * the LSH pair recall (tune `cfg` for the threshold — low thresholds
    * need FEW bits, see [[nearDupPairsLSH]]); precision is exact (every
    * drop is verified with the codegen cosine).
    *
    * Contract: batch ids must be disjoint from index ids (same as
    * [[graft.operators.Dedup.dedupIncremental]]) — an id present in both
    * would self-hit at cosine 1 and always drop.
    */
  def dedupIncrementalLSH(newBatch: DataFrame, idCol: String, embCol: String,
                          index: DataFrame, threshold: Double, cfg: Config,
                          maxPruneLiterals: Int = 4096): DataFrame = {
    // Pin ONE evaluation of the batch-sized frames each consumed more
    // than once (`nb` by the within-pair LSH subtree — twice, for the
    // band join and the vector join-back — plus the survivor anti-join;
    // `within` by the index probe and the final anti-join): in a composed
    // hygiene chain the unpinned form re-runs the entire upstream
    // pipeline once per consumer (2.6× end-to-end at sf0.1, dev profile,
    // since removed; Bench's pipeline_daily_drop row times the pinned
    // chain). LAZY + batch-sized, never corpus-sized; same
    // non-replayable tradeoff as [[probeBatch]]'s pin below.
    val nb = newBatch.localCheckpoint(eager = false)
    val withinPairs = nearDupPairsLSH(nb, idCol, embCol, threshold, cfg)
    val within = Dedup.dedupNear(nb, idCol, withinPairs)
      .localCheckpoint(eager = false)
    val (qb, pruned) = probeBatch(index, within, idCol, embCol, cfg, maxPruneLiterals)
    val dupIds = pruned.join(qb, Seq("table", "bucket"))
      .filter(graft.functions.VectorFunctions.cosine_sim(col("embedding"), col("q_emb"))
        > threshold)
      .select(col("q_id")).distinct()
    within.join(dupIds, within(idCol).cast("long") === col("q_id"), "left_anti")
  }

  /** Scale path for embedding near-duplicate pairs (the corpus×corpus case
    * [[graft.operators.Dedup.nearDupPairsExact]] refuses): candidates are
    * LSH bucket collisions (same table, same bucket), deduped across
    * tables, then verified with the exact codegen cosine. Shuffle volume
    * is Σ bucket² per table — governed by nBits — never |corpus|².
    *
    * Parameter rule of thumb: per-table collision probability for a pair
    * at cosine s is `(1 - acos(s)/π)^nBits`, overall recall
    * `1 - (1 - p)^nTables`. High thresholds (0.8+) tolerate 8-16 bits;
    * LOW thresholds need few bits — e.g. s=0.3 → p≈0.6^nBits, so 4 bits ×
    * 12 tables ≈ 0.80 recall while 8 bits ≈ 0.18.
    */
  def nearDupPairsLSH(emb: DataFrame, idCol: String, embCol: String,
                      threshold: Double, cfg: Config): DataFrame = {
    // Band-join IDS ONLY — the candidate shuffle carries 24-byte rows, not
    // embedding payloads; vectors are joined back per side after the pair
    // set is deduped (dim-independent candidate generation).
    val index = buildIndex(emb, idCol, embCol, cfg).select("table", "bucket", "id")
    val a = index.select(col("table"), col("bucket"), col("id").as("a_id"))
    val b = index.select(col("table"), col("bucket"), col("id").as("b_id"))
    val pairs = a.join(b, Seq("table", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .dropDuplicates("a_id", "b_id")
    val vecs = emb.select(col(idCol).cast("long").as("id"), col(embCol).as("v"))
    pairs
      .join(vecs.select(col("id").as("a_id"), col("v").as("a_emb")), "a_id")
      .join(vecs.select(col("id").as("b_id"), col("v").as("b_emb")), "b_id")
      .withColumn("score", graft.functions.VectorFunctions.cosine_sim(col("a_emb"), col("b_emb")))
      .filter(col("score") > threshold)
      .select(col("a_id"), col("b_id"), col("score"))
  }

  /** Exact brute-force recall baseline for tests: |approx ∩ exact| / k. */
  def recallAtK(emb: DataFrame, idCol: String, embCol: String,
                queryVec: Array[Float], k: Int, cfg: Config): Double = {
    val exact = Similarity.topK(emb, embCol, idCol, queryVec, k)
      .select(col(idCol).cast("long")).collect().map(_.getLong(0)).toSet
    val approx = approxTopK(emb, idCol, embCol, queryVec, k, cfg)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    if (exact.isEmpty) 1.0 else approx.intersect(exact).size.toDouble / exact.size
  }
}
