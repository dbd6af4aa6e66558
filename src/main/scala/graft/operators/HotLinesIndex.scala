package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted lifecycle for the interdoc BOILERPLATE-LINE table (round-15;
  * VERDICT r14 "missing" #2): [[TextAnalysis.hotLines]] recomputed the
  * line-vocabulary aggregation from the WHOLE corpus on every run — at
  * 100 TB a nightly line-curation chain wants the incremental form, like
  * every other serving artifact (postings, count table, vocab, ANN/IVF).
  *
  * Layout under `path` — the shingle-postings-index pattern reduced to
  * its frequency sidecar (there is no capped payload here: the served
  * artifact IS the thresholded frequency table):
  *  - `freqs/epoch=<id>/` — per-batch UNCAPPED `(line, n_docs)` document
  *    frequencies. A document lives in exactly one batch, so per-batch
  *    counts SUM to the exact global document frequency — append never
  *    re-reads the corpus, only the new batch.
  *  - `epochs/<id>` — [[graft.store.EpochCommit]] markers: each append
  *    is staged files + ONE atomic marker create (the round-15
  *    single-commit discipline; a crashed append is invisible).
  *
  * Serving ([[hotLines]]) is merge-on-read: sum the committed deltas per
  * line and threshold. The cap is a READ-time parameter — re-thresholding
  * a 100 TB corpus's boilerplate table costs one vocabulary-sized
  * aggregation over the persisted deltas, not a corpus re-scan. The
  * aggregation input is bounded by (line vocabulary × appends since
  * compact); [[compact]] collapses the deltas back to one summed epoch
  * under the store's atomic swap, so the steady-state read is a single
  * pre-summed table.
  */
object HotLinesIndex {

  private def freqsDir(path: String) = s"$path/freqs"

  /** One batch's exact line document-frequency delta: per-doc-distinct
    * lines (in-row `array_distinct` before the explode — the vocab df
    * discipline), so the only exchange is line-vocabulary-sized.
    */
  private def lineFreqs(batch: DataFrame, textCol: String): DataFrame =
    batch.select(explode(array_distinct(
        TextAnalysis.linesOf(col(textCol)))).as("line"))
      .groupBy("line").agg(count(lit(1)).as("n_docs"))

  /** Stage one batch's delta under an uncommitted epoch (crash-injection
    * seam — `private[graft]` like the other staged lifecycles).
    */
  private[graft] def stageBatch(batch: DataFrame, textCol: String,
                                path: String,
                                epoch: Option[String] = None,
                                negated: Boolean = false): String =
    stageDelta(lineFreqs(batch, textCol), path, epoch, negated)

  /** [[stageBatch]] over an ALREADY-COMPUTED delta frame — the seam that
    * lets [[commitDelta]] aggregate the batch ONCE and reuse the frame
    * for both the emptiness probe and the staged write (r20 advisor: the
    * probe's `isEmpty` on the aggregated frame ran the full groupBy
    * shuffle, and `stageBatch` then recomputed the identical aggregation
    * — two aggregation jobs per maintainer micro-batch).
    */
  private def stageDelta(delta: DataFrame, path: String,
                         epoch: Option[String], negated: Boolean): String = {
    val st = graft.store.EpochCommit.stage(epoch)
    st.write(if (negated) delta.select(col("line"), negate(col("n_docs")).as("n_docs"))
      else delta, freqsDir(path))
    st.epoch
  }

  /** Idempotent single-commit append/delete core shared by [[append]]
    * and [[delete]] — see [[graft.store.EpochCommit.append]]'s tag
    * contract. The caller's tag is SALTED BY OPERATION (r20 review): a
    * maintainer micro-batch that both appends new docs and
    * retention-deletes old ones under the documented (run, batchId)-
    * scoped tag would otherwise collide on one epoch id and the second
    * operation would be silently skipped as a "replay" — the retired
    * lines staying hot forever.
    *
    * An empty DELTA is a no-op, not an epoch (r20 review — the empty
    * check moved from the batch to the delta): a NON-empty batch whose
    * every text yields no lines (blank/whitespace docs) stages a
    * zero-row delta, and a zero-row write can land a data dir with no
    * parquet footers; were that the only committed epoch, every read
    * would fail schema inference despite the committed check passing.
    */
  private def commitDelta(batch: DataFrame, textCol: String, path: String,
                          negated: Boolean, tag: Option[String]): Unit = {
    val s = batch.sparkSession
    // ONE aggregation job per micro-batch (r20 advisor): the lazy local
    // checkpoint pins a single evaluation of the groupBy shuffle, shared
    // by the emptiness probe and the staged write — batch-sized blocks,
    // released deterministically below (not left to the ContextCleaner:
    // a maintainer loop would otherwise accumulate one pinned delta per
    // micro-batch until a GC happens to run).
    val delta = lineFreqs(batch, textCol).localCheckpoint(eager = false)
    try if (!delta.isEmpty) {
      val salted = tag.map(t => (if (negated) "hl-delete:" else "hl-append:") + t)
      // Also honor the LEGACY UNSALTED tag's epoch as committed (r20
      // advisor, medium): a maintainer stream checkpointed under a
      // pre-salt build committed this batch under the unsalted id — a
      // crash-between-commit-and-offset restart on this build must
      // recognize it, or the replay double-counts the batch's line
      // frequencies (the exact at-least-once window the tag closes).
      // Appends only: no pre-salt build ever committed a delete tag.
      val legacy = tag.filter(_ => !negated).toSeq
      graft.store.EpochCommit.append(s, path, salted, legacy)(
        stageDelta(delta, path, _, negated))
    } finally graft.operators.Dedup.releaseCheckpointBlocks(delta)
  }

  def build(corpus: DataFrame, textCol: String, path: String): Unit = {
    // one aggregation job: the probe and the staged write share the
    // pinned delta, released deterministically (see [[commitDelta]])
    val delta = lineFreqs(corpus, textCol).localCheckpoint(eager = false)
    try {
      // refuse a no-line corpus pre-stage: its sole epoch could land
      // footer-less and brick every read (see [[commitDelta]])
      if (delta.isEmpty)
        throw new graft.core.EngineError(
          "refusing to build a hot-lines index over a corpus that yields no lines " +
          "(all texts blank/whitespace) — an empty sole epoch is unreadable; build " +
          "once real text arrives")
      graft.store.EpochCommit.rebuild(corpus.sparkSession, path)(
        stageDelta(delta, path, None, negated = false))
    } finally graft.operators.Dedup.releaseCheckpointBlocks(delta)
  }

  /** APPEND a batch's line-frequency delta — linear in the batch, the
    * corpus is never re-read. Caller owns doc-disjointness across
    * batches (the same contract as every other append in the engine).
    *
    * An EMPTY batch is a no-op, not an epoch: an empty delta write can
    * land a data dir with no parquet files, and if that were the only
    * committed epoch, [[hotLines]]'s read would fail schema inference
    * despite the committed check passing (streaming maintenance can
    * legitimately deliver empty micro-batches). The emptiness probe
    * shares the staged write's ONE pinned aggregation (see
    * [[stageDelta]]) — no second job.
    *
    * `idempotencyTag` (round-17): at-least-once callers (foreachBatch
    * maintenance) pass a (run, batchId)-scoped tag and the append
    * becomes exactly-once under micro-batch replay
    * ([[graft.store.EpochCommit.append]]).
    */
  def append(batch: DataFrame, textCol: String, path: String,
             idempotencyTag: Option[String] = None): Unit =
    // no pre-probe of the raw batch: an empty batch yields an empty
    // DELTA, and commitDelta's single pinned-delta check already no-ops
    // it — one emptiness job per micro-batch, not two (r20 advisor)
    commitDelta(batch, textCol, path, negated = false, idempotencyTag)

  /** DELETE a batch's contribution (retention/takedown): append the
    * NEGATED line-frequency delta — the count-table discipline (integer
    * document frequencies form a group, so deletion is
    * subtraction-by-summation), under the same single-commit epoch as
    * [[append]]. Merge-on-read sums cancel exactly: a line whose
    * remaining df falls to (or under) the cap drops out of the served
    * hot set, and a fully-retired line sums to 0 (excluded by any
    * positive cap). Deleting a batch that was never ingested corrupts
    * the table — the same caller contract as double-append.
    */
  def delete(batch: DataFrame, textCol: String, path: String,
             idempotencyTag: Option[String] = None): Unit =
    // empty-batch no-op via the pinned delta — same rationale as append
    commitDelta(batch, textCol, path, negated = true, idempotencyTag)

  /** The served hot-line table `(line, n_docs)`: lines whose summed
    * document frequency exceeds `maxDocFreq`. Drop-in for
    * [[TextAnalysis.hotLines]]'s output (feed to
    * [[TextAnalysis.removeHotLines]]), value-identical to a from-scratch
    * recompute over every ingested document — the
    * `hotlines_append_parity` oracle row pins it.
    */
  def hotLines(spark: SparkSession, path: String, maxDocFreq: Long): DataFrame = {
    require(maxDocFreq > 0, s"maxDocFreq must be positive, got $maxDocFreq")
    graft.store.EpochCommit
      .readCommitted(spark, path, freqsDir(path), "hot-lines index")
      .groupBy("line").agg(sum(col("n_docs")).as("n_docs"))
      .filter(col("n_docs") > maxDocFreq)
  }

  /** COMPACT per-append delta files into one summed epoch (atomic swap;
    * orphaned uncommitted stages die here). Content afterwards ==
    * a from-scratch [[build]] over every ingested document.
    */
  def compact(spark: SparkSession, path: String): Unit =
    graft.store.EpochCommit.compact(spark, path) { (tmp, st) =>
      val folded = graft.store.EpochCommit
        .readCommitted(spark, path, freqsDir(path), "hot-lines index")
        .groupBy("line").agg(sum(col("n_docs")).as("n_docs"))
        // delete-cancelled lines sum to 0 — fold the cancellation away
        .filter(col("n_docs") =!= 0L)
      // refuse an all-cancelled fold (r20 review; the dHash/packed-IVF
      // compact precedent): a zero-row sole epoch can land footer-less
      // and brick every read. The UNcompacted table keeps serving the
      // correct (empty) hot set via summation; compact once data returns.
      if (folded.isEmpty)
        throw new graft.core.EngineError(
          s"refusing to compact hot-lines index at $path: every line's frequency " +
          "sums to zero (fully cancelled by deletes) — the fold would write a " +
          "footer-less epoch no read can open; the uncompacted table already " +
          "serves the empty hot set correctly, compact again once data returns")
      st.write(folded, freqsDir(tmp))
    }
}
