package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Validate
import graft.functions.VectorFunctions.cosine_sim

/** Similarity search operators.
  *
  * The reference's flagship operation is a brute-force exact top-k cosine
  * scan (`/root/reference/vectolite.py:118-174`): embed the query, score
  * every row, sort desc, slice k. On Spark the same semantics become
  * `withColumn(score) → orderBy(desc).limit(k)`, which Catalyst plans as
  * `TakeOrderedAndProjectExec` — per-partition top-k heaps merged on the
  * driver, so no global sort and no shuffle of the corpus. That is the plan
  * shape that survives 100 TB: each executor reduces its split to k rows.
  *
  * Ties: Python's stable sort keeps scan order for equal scores
  * (`vectolite.py:171`); distributed scan order is not stable, so we make
  * the ordering total explicitly with an id tiebreak (SURVEY O11).
  *
  * Related operators: batch many-query top-k lives in [[SimJoin]] (shuffle
  * bounded by a k-bounded partial aggregator), near-duplicate pairs in
  * [[Dedup]] (guarded exact / inverted-index / SimHash) and
  * [[MinHashDedup]], and the sub-scan ANN path in [[AnnIndex]].
  */
object Similarity {

  /** Exact brute-force top-k for one query vector (↔ O10).
    * The query vector travels as a literal in the plan — the degenerate
    * "broadcast" of a 1-row build side.
    */
  def topK(corpus: DataFrame, embCol: String, idCol: String,
           queryVec: Array[Float], k: Int): DataFrame = {
    Validate.positiveTopK(k)
    cutTopK(
      corpus.withColumn("score", cosine_sim(col(embCol), typedlit(queryVec.toSeq))),
      idCol, k)
  }

  /** THE top-k cut: (score desc, id asc) — the one total order every
    * scored single-query ranking in the engine uses, so two serving
    * forms of the same index (e.g. the float IVF probe and its packed
    * int8 candidate pass) can never diverge on score ties. Plans as
    * `TakeOrderedAndProjectExec` — per-partition heaps, no global sort.
    */
  def cutTopK(scored: DataFrame, idCol: String, k: Int): DataFrame = {
    Validate.positiveTopK(k)
    scored.orderBy(desc("score"), col(idCol).asc).limit(k)
  }
}
