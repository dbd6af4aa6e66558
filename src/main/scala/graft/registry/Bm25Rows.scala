package graft.registry

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._

import Artifacts._
import OracleSql._

/** Keyword search: BM25 scan and index probes, hybrid RRF, phrase and
  * proximity search, snippets.
  */
private[graft] object Bm25Rows {

  /** The BM25 query of the keyword rows — three mid-frequency fixture
    * terms, so tf, df, and length normalization all vary across the hits.
    */
  private[registry] val bm25Terms = Seq("vector", "stream", "hash")

  /** The batch-probe workload: five queries over the fixture vocabulary
    * with overlapping terms (so postings are shared across queries in the
    * one-plan serve).
    */
  private val bm25BatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("vector", "stream"),
    1L -> Seq("hash", "join"),
    2L -> Seq("sort", "merge", "scan"),
    3L -> Seq("filter", "row"),
    4L -> Seq("query", "vector"))

  /** Standing phrase workload for the batch positional probe (round-15).
    * q_id 2 is a trigram with ZERO matches at sf0.001 — the batch plan
    * must emit nothing for it, not a partial-term candidate.
    */
  private[registry] val phraseBatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("vector", "stream"),
    1L -> Seq("table", "hash"),
    2L -> Seq("slow", "hash", "batch"),
    3L -> Seq("big", "table"),
    4L -> Seq("merge", "group"))

  /** Standing proximity workload (round-15); q_id 4 is a 3-term query —
    * the k-way smallest-range path, whose oracle replays the span as a
    * min over all occurrence triples.
    */
  private val proximityBatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("vector", "stream"),
    1L -> Seq("table", "hash"),
    2L -> Seq("merge", "group"),
    3L -> Seq("slow", "batch"),
    4L -> Seq("vector", "table", "hash"))

  /** BM25 CTE chain ending in `bm(doc_id, score)` — replays [[Bm25.topK]]
    * for [[bm25Terms]]: same tokenization, same arithmetic shape
    * (`((idf·tf)·2.2)/denom`, `dl·n/total` length norm), so doubles agree
    * bit-for-bit up to the `ln` libm ulp that ROUND(…,6) absorbs.
    * WITHOUT a leading `WITH` so it can splice after other CTEs.
    */
  private def bm25CteFor(where: String) =
    s"""tok AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
      |  FROM documents$where),
      |d AS (SELECT doc_id, len(t) AS dl, t FROM tok),
      |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(dl) AS DOUBLE) AS total FROM d),
      |qt AS (SELECT unnest(['vector', 'stream', 'hash']) AS term),
      |p AS (
      |  SELECT d.doc_id, d.dl, qt.term, len(list_filter(d.t, x -> x = qt.term)) AS tf
      |  FROM d CROSS JOIN qt),
      |p2 AS (SELECT * FROM p WHERE tf > 0),
      |f AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM p2 GROUP BY term),
      |bm AS (
      |  SELECT p2.doc_id,
      |    SUM(ln(1.0 + (st.n - f.df + 0.5) / (f.df + 0.5))
      |      * CAST(p2.tf AS DOUBLE) * 2.2
      |      / (CAST(p2.tf AS DOUBLE)
      |         + 1.2 * (0.25 + 0.75 * CAST(p2.dl AS DOUBLE) * st.n / st.total))) AS score
      |  FROM p2 JOIN f USING (term) CROSS JOIN st
      |  GROUP BY p2.doc_id)""".stripMargin

  private[registry] val bm25Cte = bm25CteFor("")

  private val bm25TopkSql =
    s"""WITH $bm25Cte
       |SELECT doc_id, ROUND(score, 6) AS score
       |FROM bm ORDER BY ROUND(score, 6) DESC, doc_id LIMIT 10""".stripMargin

  /** ONE phrase oracle (token positions replayed with 1-based inclusive
    * list slices; the candidate range(1, len) covers every bigram start)
    * shared by the full-scan `phrase_search` row AND the positional-index
    * `phrase_index_topk` row — the shared hash proves index-served phrase
    * == corpus-scan phrase, the same probe==scan pattern as
    * `bm25_index_topk`.
    */
  private[registry] val phraseSearchSql =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents WHERE trim(text) <> ''),
      |m AS (
      |  SELECT doc_id,
      |    list_filter(range(1, len(t)), i -> t[i:i+1] = ['vector', 'stream']) AS p
      |  FROM t)
      |SELECT doc_id, CAST(len(p) AS BIGINT) AS n_hits,
      |  CAST(COALESCE(list_min(p), 0) AS BIGINT) AS first_pos
      |FROM m WHERE len(p) > 0 ORDER BY doc_id""".stripMargin

  val rows: Seq[Declared] = Seq(
    // E3/E5 (round-13): BM25 keyword top-k — the lexical half of hybrid
    // search, direct-scan form. In-row tf per query term (no token
    // shuffle); only matching docs reach the per-doc sum; k-bounded tail.
    Declared("bm25_topk", (s, dir) =>
      Bm25.topK(docs(s, dir), "doc_id", "text", bm25Terms, k = 10),
      oracle = bm25TopkSql),

    // Same query served from the PERSISTED inverted index (built on 60%
    // + appended 40% — see bm25Index): sharing bm25_topk's oracle proves
    // probe == direct scan AND append == rebuild in one hash row.
    Declared("bm25_index_topk", (s, dir) =>
      IndexedBm25.topK(s, bm25Index(s, dir), bm25Terms, k = 10),
      // The indexed probe must equal the direct scan exactly — one oracle
      // serves both, and the shared hash proves probe == scan == rebuild
      // (the index is built 60% + appended 40%).
      oracle = bm25TopkSql),

    // DELETE honored by the maintained index: tombstones + one negative
    // meta delta, probes anti-join merge-on-read (df recomputed from the
    // surviving postings). The oracle scores only the surviving docs, so
    // the hash match proves delete == rebuild-without.
    Declared("bm25_delete_parity", (s, dir) =>
      IndexedBm25.topK(s, bm25DeleteIndex(s, dir), bm25Terms, k = 10),
      // The delete-parity probe must equal the direct scan over ONLY the
      // surviving docs: same CTE, corpus filtered to doc_id >= 50 — the
      // exact set the engine tombstoned.
      oracle = s"""WITH ${bm25CteFor(" WHERE doc_id >= 50")}
         |SELECT doc_id, ROUND(score, 6) AS score
         |FROM bm ORDER BY ROUND(score, 6) DESC, doc_id LIMIT 10""".stripMargin),

    // E3 (round-13): HYBRID retrieval — reciprocal-rank fusion of the
    // BM25 top-20 and the cosine top-20 for the flagship query. Ranks are
    // integers, so the fused scores are exact rational arithmetic; both
    // inputs are k-bounded frames (the 20-row rank windows cost nothing).
    Declared("hybrid_rrf", (s, dir) => {
      val lex = Bm25.topK(docs(s, dir), "doc_id", "text", bm25Terms, k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
      val sem = Similarity.topK(embs(s, dir), "embedding", "vec_id",
          queryVec(s, dir), 20)
        .select(col("vec_id").as("doc_id"), col("score"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
      Bm25.rrfFuse(lex, sem, k = 10)
    },
      // RRF fusion: rank the BM25 top-20 (on the rounded score, doc_id
      // tiebreak — the emitted ordering) and the cosine top-20 (raw score,
      // vec_id tiebreak — Similarity.topK's ordering), then fuse with
      // 1/(60+rank) in DOUBLE arithmetic. Integer ranks make the fused
      // scores engine-exact.
      oracle = s"""$scoreVsQ,
         |$bm25Cte,
         |lex AS (
         |  SELECT doc_id, ROUND(score, 6) AS score FROM bm
         |  ORDER BY ROUND(score, 6) DESC, doc_id LIMIT 20),
         |lexr AS (SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r FROM lex),
         |semt AS (SELECT vec_id AS doc_id, score FROM sc
         |  ORDER BY score DESC, vec_id LIMIT 20),
         |semr AS (SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r FROM semt),
         |fu AS (
         |  SELECT COALESCE(l.doc_id, s2.doc_id) AS doc_id,
         |    COALESCE(CAST(1 AS DOUBLE) / CAST(60 + l.r AS DOUBLE), 0)
         |      + COALESCE(CAST(1 AS DOUBLE) / CAST(60 + s2.r AS DOUBLE), 0) AS rrf
         |  FROM lexr l FULL OUTER JOIN semr s2 ON l.doc_id = s2.doc_id)
         |SELECT doc_id, ROUND(rrf, 9) AS rrf
         |FROM fu ORDER BY ROUND(rrf, 9) DESC, doc_id LIMIT 10""".stripMargin),

    // E3 (round-13): BM25 BATCH probe at query volume — five keyword
    // queries served from the persisted inverted index in ONE plan
    // (collected touched-term set → pruned postings scan → broadcast
    // query table → per-(query,doc) sum → SimJoin.rankTopK k-bounded
    // rank — no window; PlanShapeSpec pins zero WindowExec).
    Declared("bm25_batch_topk", (s, dir) => {
      import s.implicits._
      val queries = bm25BatchQueries.toDF("q_id", "terms")
      IndexedBm25.topKBatch(s, bm25Index(s, dir), queries, k = 5)
        .orderBy("q_id", "rank")
    },
      // Batch probe replay: a VALUES query table, the same single contrib
      // shape, per-(query,doc) sum, rank partitioned by query on the
      // rounded score with doc_id tiebreak. df/n/total recomputed from the
      // corpus the index covers.
      oracle = """WITH tok AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |d AS (SELECT doc_id, len(t) AS dl, t FROM tok),
        |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(dl) AS DOUBLE) AS total FROM d),
        |qts(q_id, term) AS (VALUES
        |  (0, 'vector'), (0, 'stream'),
        |  (1, 'hash'), (1, 'join'),
        |  (2, 'sort'), (2, 'merge'), (2, 'scan'),
        |  (3, 'filter'), (3, 'row'),
        |  (4, 'query'), (4, 'vector')),
        |tp AS (SELECT DISTINCT term FROM qts),
        |p AS (
        |  SELECT d.doc_id, d.dl, tp.term, len(list_filter(d.t, x -> x = tp.term)) AS tf
        |  FROM d CROSS JOIN tp),
        |p2 AS (SELECT * FROM p WHERE tf > 0),
        |f AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM p2 GROUP BY term),
        |sc2 AS (
        |  SELECT qts.q_id, p2.doc_id,
        |    SUM(ln(1.0 + (st.n - f.df + 0.5) / (f.df + 0.5))
        |      * CAST(p2.tf AS DOUBLE) * 2.2
        |      / (CAST(p2.tf AS DOUBLE)
        |         + 1.2 * (0.25 + 0.75 * CAST(p2.dl AS DOUBLE) * st.n / st.total))) AS score
        |  FROM p2 JOIN qts USING (term) JOIN f USING (term) CROSS JOIN st
        |  GROUP BY qts.q_id, p2.doc_id),
        |rk AS (
        |  SELECT q_id, doc_id, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY ROUND(score, 6) DESC, doc_id) AS BIGINT) AS "rank"
        |  FROM sc2)
        |SELECT CAST(q_id AS BIGINT) AS q_id, doc_id, ROUND(score, 6) AS score, "rank"
        |FROM rk WHERE "rank" <= 5 ORDER BY q_id, "rank"""".stripMargin),

    // E3/E5 (round-13): exact PHRASE search — the positional verb
    // bag-of-words scoring can't express: in-row token-sequence match
    // (codegen slice-compare per candidate position, nothing leaves the
    // row), emitting occurrence count + first position per matching doc.
    Declared("phrase_search", (s, dir) =>
      // let-bound check (TextAnalysis.phraseHits): one tokenize + one
      // position filter per row regardless of how many downstream
      // expressions consume the result — see phraseHits' scaladoc
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.phraseHits(col("text"), Seq("vector", "stream")).as("__h"))
        .select(col("doc_id"), col("__h.n_hits").as("n_hits"),
          col("__h.first_pos").as("first_pos"))
        .filter(col("n_hits") > 0)
        .orderBy("doc_id"),
      oracle = phraseSearchSql),

    // E3 (round-14): the SAME phrase query served from the POSITIONAL
    // inverted index — pruned scan of only the phrase terms' hash
    // partitions, positional-intersection adjacency check, no corpus
    // scan (VERDICT r13 "missing" #1: scan-serve at 100 TB was the
    // keyword family's one scale gap). Shares phrase_search's oracle:
    // the hash match proves probe == scan over the build+append index.
    Declared("phrase_index_topk", (s, dir) =>
      IndexedBm25.phraseSearch(s, bm25Index(s, dir), Seq("vector", "stream"))
        .orderBy("doc_id"),
      // The positional-index probe must equal the full-scan phrase search
      // exactly — one oracle serves both (probe == scan, keyword-phrase
      // edition; the index is built 60% + appended 40%, so the shared hash
      // also re-proves append == rebuild for the positions column).
      oracle = phraseSearchSql),

    // E3 (round-14): PROXIMITY search from the positional index — both
    // terms within a 10-token window (either order), min_span = tightest
    // covering span. Sits between bag-of-words BM25 and exact phrase;
    // same pruned-partition serving as the phrase probe, smallest-range
    // two-pointer over the stored sorted positions.
    Declared("proximity_search", (s, dir) =>
      IndexedBm25.proximitySearch(s, bm25Index(s, dir),
          Seq("vector", "stream"), window = 10)
        .orderBy("doc_id"),
      // Two-term proximity has a closed form the SQL replays directly:
      // min over occurrence pairs of |pa − pb| + 1 (the engine's k-way
      // smallest-range reduces to exactly this at k=2). 1-based vs 0-based
      // positions cancel in the difference.
      oracle = """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE trim(text) <> ''),
        |pos AS (
        |  SELECT doc_id, u.i, u.w AS word
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(t, (x, i) -> struct_pack(w := x, i := i))) AS u
        |        FROM t)),
        |a AS (SELECT doc_id, i FROM pos WHERE word = 'vector'),
        |b AS (SELECT doc_id, i FROM pos WHERE word = 'stream'),
        |sp AS (
        |  SELECT a.doc_id, MIN(ABS(a.i - b.i) + 1) AS min_span
        |  FROM a JOIN b USING (doc_id) GROUP BY a.doc_id)
        |SELECT doc_id, CAST(min_span AS BIGINT) AS min_span
        |FROM sp WHERE min_span <= 10 ORDER BY doc_id""".stripMargin),

    // E3 (round-15): BATCH phrase probe — five standing phrases served
    // from the positional index in ONE plan (VERDICT r14 "missing" #1:
    // N phrase alerts used to cost N pruned scans). Union touched-term
    // set → one pruned positional scan → per-(q_id, doc) adjacency →
    // SimJoin.rankTopK (PlanShapeSpec pins zero WindowExec). The oracle
    // replays each phrase with the full-scan derivation, so the hash
    // also proves batch == scan per phrase.
    Declared("phrase_batch_topk", (s, dir) => {
      import s.implicits._
      val queries = phraseBatchQueries.toDF("q_id", "phrase")
      IndexedBm25.phraseSearchBatch(s, bm25Index(s, dir), queries, k = 5)
        .orderBy("q_id", "rank")
    },
      // Batch phrase replay: a VALUES phrase table, the SAME full-scan
      // start-position derivation as phraseSearchSql generalized to a
      // per-row phrase length, then rank(n_hits desc, doc_id) cut at 5 —
      // integer hit counts, so no rounding anywhere.
      oracle = """WITH q(q_id, phrase) AS (VALUES
        |  (0, ['vector', 'stream']),
        |  (1, ['table', 'hash']),
        |  (2, ['slow', 'hash', 'batch']),
        |  (3, ['big', 'table']),
        |  (4, ['merge', 'group'])),
        |t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE trim(text) <> ''),
        |m AS (
        |  SELECT q.q_id, t.doc_id,
        |    list_filter(range(1, len(t.t) - len(q.phrase) + 2),
        |      i -> t.t[i:i+len(q.phrase)-1] = q.phrase) AS p
        |  FROM q CROSS JOIN t),
        |h AS (
        |  SELECT q_id, doc_id, CAST(len(p) AS BIGINT) AS n_hits
        |  FROM m WHERE len(p) > 0),
        |rk AS (
        |  SELECT q_id, doc_id, n_hits,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY n_hits DESC, doc_id) AS BIGINT) AS "rank"
        |  FROM h)
        |SELECT CAST(q_id AS BIGINT) AS q_id, doc_id, n_hits, "rank"
        |FROM rk WHERE "rank" <= 5 ORDER BY q_id, "rank"""".stripMargin),

    // E3 (round-15): BATCH proximity probe — same one-plan serving for
    // standing near-queries, tightest-span-first ranking on the exact
    // integer span (no float ordering anywhere), incl. a 3-term k-way
    // smallest-range query.
    Declared("proximity_batch_topk", (s, dir) => {
      import s.implicits._
      val queries = proximityBatchQueries.toDF("q_id", "terms")
      IndexedBm25.proximitySearchBatch(s, bm25Index(s, dir), queries,
          window = 10, k = 5)
        .orderBy("q_id", "rank")
    },
      // Batch proximity replay: per-query closed forms UNION ALL'd — the
      // 2-term span is min |pa − pb| + 1, the 3-term span is the min over
      // all occurrence triples of (greatest − least + 1); both are exactly
      // the engine's k-way smallest-range on integer positions.
      oracle = """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE trim(text) <> ''),
        |pos AS (
        |  SELECT doc_id, u.i, u.w AS word
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(t, (x, i) -> struct_pack(w := x, i := i))) AS u
        |        FROM t)),
        |sp AS (
        |  SELECT 0 AS q_id, a.doc_id, MIN(ABS(a.i - b.i) + 1) AS min_span
        |  FROM (SELECT doc_id, i FROM pos WHERE word = 'vector') a
        |  JOIN (SELECT doc_id, i FROM pos WHERE word = 'stream') b USING (doc_id)
        |  GROUP BY a.doc_id
        |  UNION ALL
        |  SELECT 1, a.doc_id, MIN(ABS(a.i - b.i) + 1)
        |  FROM (SELECT doc_id, i FROM pos WHERE word = 'table') a
        |  JOIN (SELECT doc_id, i FROM pos WHERE word = 'hash') b USING (doc_id)
        |  GROUP BY a.doc_id
        |  UNION ALL
        |  SELECT 2, a.doc_id, MIN(ABS(a.i - b.i) + 1)
        |  FROM (SELECT doc_id, i FROM pos WHERE word = 'merge') a
        |  JOIN (SELECT doc_id, i FROM pos WHERE word = 'group') b USING (doc_id)
        |  GROUP BY a.doc_id
        |  UNION ALL
        |  SELECT 3, a.doc_id, MIN(ABS(a.i - b.i) + 1)
        |  FROM (SELECT doc_id, i FROM pos WHERE word = 'slow') a
        |  JOIN (SELECT doc_id, i FROM pos WHERE word = 'batch') b USING (doc_id)
        |  GROUP BY a.doc_id
        |  UNION ALL
        |  SELECT 4, a.doc_id,
        |    MIN(GREATEST(a.i, b.i, c.i) - LEAST(a.i, b.i, c.i) + 1)
        |  FROM (SELECT doc_id, i FROM pos WHERE word = 'vector') a
        |  JOIN (SELECT doc_id, i FROM pos WHERE word = 'table') b USING (doc_id)
        |  JOIN (SELECT doc_id, i FROM pos WHERE word = 'hash') c USING (doc_id)
        |  GROUP BY a.doc_id),
        |h AS (SELECT q_id, doc_id, CAST(min_span AS BIGINT) AS min_span
        |      FROM sp WHERE min_span <= 10),
        |rk AS (
        |  SELECT q_id, doc_id, min_span,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY min_span ASC, doc_id) AS BIGINT) AS "rank"
        |  FROM h)
        |SELECT CAST(q_id AS BIGINT) AS q_id, doc_id, min_span, "rank"
        |FROM rk WHERE "rank" <= 5 ORDER BY q_id, "rank"""".stripMargin),

    // E3 composition (round-13): the RESULT PAGE — BM25 top-10 joined
    // back to text with a ±15-char snippet around the leftmost query-term
    // hit. One k-bounded join + one codegen projection on top of the
    // ranked list.
    Declared("search_snippet", (s, dir) => {
      val top = Bm25.topK(docs(s, dir), "doc_id", "text", bm25Terms, k = 10)
      top.join(docs(s, dir).select(col("doc_id"), col("text")), Seq("doc_id"))
        .select(col("doc_id"), col("score"),
          TextAnalysis.snippet(col("text"), bm25Terms, width = 15).as("snippet"))
        .orderBy(desc("score"), col("doc_id"))
    },
      // The ranked list is bm25_topk's; the snippet replays Spark's
      // locate/least/substr with strpos/LEAST/substr (both 1-based, both
      // LEAST-ignore-NULLs, 0-miss mapped to NULL via NULLIF). maxTermLen
      // of (vector, stream, hash) = 6 → window 2·15+6.
      oracle = s"""WITH $bm25Cte,
         |top AS (
         |  SELECT doc_id, ROUND(score, 6) AS score FROM bm
         |  ORDER BY ROUND(score, 6) DESC, doc_id LIMIT 10),
         |sn AS (
         |  SELECT t.doc_id, t.score, d.text,
         |    LEAST(NULLIF(strpos(d.text, 'vector'), 0),
         |          NULLIF(strpos(d.text, 'stream'), 0),
         |          NULLIF(strpos(d.text, 'hash'), 0)) AS p
         |  FROM top t JOIN documents d USING (doc_id))
         |SELECT doc_id, score,
         |  CASE WHEN p IS NULL THEN ''
         |       ELSE substr(text, GREATEST(p - 15, 1), 2 * 15 + 6) END AS snippet
         |FROM sn ORDER BY score DESC, doc_id""".stripMargin),
  )
}
