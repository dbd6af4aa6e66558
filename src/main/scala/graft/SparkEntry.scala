package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Similarity
import graft.registry._

/** Driver contract — see SURVEY.md §7.
  *
  * Every entry in [[queries]] is one operator from SURVEY §2 (O1-O17) or a
  * north-star extension (E1-E6 / the training-data-pipeline brief), and
  * every ANSI-expressible one has a DuckDB twin in [[oracleSql]] with
  * IDENTICAL column names, types (counts as BIGINT, scores rounded to 6),
  * and ORDER BY — the driver hash-compares the two result sets.
  *
  * Determinism rules used throughout: explicit total ordering with id
  * tiebreaks, doubles rounded AFTER filtering/ranking on the unrounded
  * value, money sums computed as exact decimal(18,2) (order-independent)
  * and then SURFACED as DOUBLE — never emitted as DECIMAL: the driver's
  * canonicalizer renders integral decimals '253942.00' on the Spark side
  * vs float '253942.0' on the DuckDB side, so any integral-valued DECIMAL
  * output column hash-mismatches (CORRECTNESS_r03). Integral sums
  * (quantities) surface as BIGINT. No wall-clock columns.
  */
object SparkEntry {

  /** Every declared row, family by family; each name is declared once. */
  val rows: Seq[Declared] =
    StoreRows.rows ++ SimilarityRows.rows ++ AnnRows.rows ++ Bm25Rows.rows ++
      DedupRows.rows ++ TextRows.rows ++ StreamRows.rows ++
      RelationalRows.rows ++ PipelineRows.rows

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.map(r => r.name -> r.run).toMap

  def oracleSql: Map[String, String] = rows.map(r => r.name -> r.oracle).toMap

  /** Rows whose timing is a cache lookup after [[Artifacts.warmArtifacts]]
    * (see [[Declared]]`.cached`).
    */
  val cachedQueryNames: Set[String] = rows.filter(_.cached).map(_.name).toSet

  /** Flagship query on the sf0.001 fixture; the driver smoke-checks rows>0:
    * embed-side scan → codegen cosine score → TakeOrderedAndProject top-5 →
    * broadcast join to document text (SURVEY §7.3).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val q = Artifacts.queryVec(spark, dir)
    Similarity.topK(Tables.embeddings(spark, dir), "embedding", "vec_id", q, 5)
      .select(col("vec_id").as("doc_id"), round(col("score"), 6).as("score"))
      .join(Tables.documents(spark, dir).select("doc_id", "text"), Seq("doc_id"))
      .orderBy(desc("score"), col("doc_id"))
  }
}
