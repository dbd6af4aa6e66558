package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of and range joins — operators Spark lacks natively (SURVEY §2.2
  * lists them among the absent categories; the builder brief names them as
  * custom-operator candidates). Both are implemented as SHUFFLE-BOUNDED
  * compositions of existing operators per the preference order (compose
  * before custom plans): no nested-loop theta join anywhere.
  */
object TemporalJoins {

  /** As-of join: for every left row, the single most recent right row of
    * the same key with `rightTs <= leftTs` (backward as-of, the market-data
    * classic).
    *
    * Implementation: union the two sides tagged, one window pass per key
    * ordered by (ts, tag) carrying the last-seen right payload forward
    * (`last(..., ignoreNulls)`), keep left rows. Cost: ONE shuffle of
    * |L|+|R| rows on the key — same as a co-partitioned merge join, with
    * no per-key quadratic blowup however skewed the timestamps.
    *
    * Left rows with no prior right row keep null payloads (left-outer
    * semantics). `rightPayload` names must not collide with left columns
    * (rename before calling).
    *
    * SKEW CONTRACT: the window partitions by `keyCol`, so ALL rows of one
    * key land in ONE task — a key with 10^8 events serializes into a
    * single sorted pass regardless of cluster size (linear in that key's
    * rows: the carry-forward is O(1) per row, never quadratic — the
    * window shape SCALE.md's hot-key probe timed for sessionize). When
    * one key dominates the corpus, pre-bucket time first: window over
    * (key, timeBucket), then stitch bucket boundaries by carrying each
    * bucket's last right-payload into the next bucket (one extra pass
    * over |buckets| rows). The default is
    * deliberately the simple one-shuffle form — per-key time ranges are
    * the common case and the stitch costs a second shuffle.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
               keyCol: String, leftTs: String, rightTs: String,
               rightPayload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    require(rightPayload.intersect(leftCols).isEmpty,
      s"right payload columns collide with left: ${rightPayload.intersect(leftCols)}")

    // tag=1 left, tag=0 right: a right row at an EQUAL timestamp sorts
    // before the left row, so same-instant matches are visible (ts <=).
    // The payload travels as ONE struct so every output row reflects a
    // single right row — carrying columns independently would resurrect
    // older non-null values into newer rows (and mix rows).
    val payloadStructType = org.apache.spark.sql.types.StructType(
      rightPayload.map(c => right.schema(c).copy(name = c)))
    val lSide = left.select(
      leftCols.map(col) :+
        lit(null).cast(payloadStructType).as("__graft_payload") :+
        col(leftTs).as("__graft_ts") :+ lit(1).as("__graft_tag"): _*)
    val rSide = right.select(
      leftCols.map(c => if (c == keyCol) col(c)
                        else lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(rightPayload.map(col): _*).as("__graft_payload") :+
        col(rightTs).as("__graft_ts") :+ lit(0).as("__graft_tag"): _*)

    // Trailing payload-struct tiebreak: duplicate (key, ts) right rows with
    // different payloads would otherwise resolve to whichever row the sort
    // happened to place last — run-dependent. With the struct in the order,
    // the match is deterministically the MAX payload (struct comparison is
    // lexicographic over its fields). Callers whose oracle makes a different
    // arbitrary pick should pre-aggregate the right side to one row per
    // (key, ts).
    val w = Window.partitionBy(keyCol)
      .orderBy(col("__graft_ts"), col("__graft_tag"), col("__graft_payload"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = lSide.unionByName(rSide)
      .withColumn("__graft_payload", last(col("__graft_payload"), ignoreNulls = true).over(w))
    val unpacked = rightPayload.foldLeft(carried) { (df, c) =>
      df.withColumn(c, col(s"__graft_payload.$c"))
    }
    unpacked.filter(col("__graft_tag") === 1)
      .drop("__graft_ts", "__graft_tag", "__graft_payload")
  }

  /** Range (interval) join: rows of `points` whose `ptCol` falls inside
    * `[startCol, endCol]` of `intervals`, equi-bucketized: both sides map
    * to coarse buckets of width `bucketWidth` (an interval spans every
    * bucket it overlaps — a bounded explode when `bucketWidth` ≳ typical
    * interval length), the join runs as a hash EQUI-join on bucket (+
    * optional extra keys), and the exact containment predicate filters
    * after. Turns Spark's default broadcast-nested-loop theta join into a
    * shuffle hash join whose fan-out is |intervals| × (span/bucketWidth).
    *
    * Columns `ptCol`/`startCol`/`endCol` must be numeric (cast timestamps
    * with `unix_micros` first).
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame,
                ptCol: String, startCol: String, endCol: String,
                bucketWidth: Long, extraKeys: Seq[String] = Nil): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val p = points.withColumn("__graft_bucket",
      (col(ptCol).cast("long") / bucketWidth).cast("long"))
    val iv = intervals.withColumn("__graft_bucket", explode(sequence(
      (col(startCol).cast("long") / bucketWidth).cast("long"),
      (col(endCol).cast("long") / bucketWidth).cast("long"))))
    p.join(iv, ("__graft_bucket" +: extraKeys).toSeq)
      .filter(col(ptCol) >= col(startCol) && col(ptCol) <= col(endCol))
      .drop("__graft_bucket")
  }
}
