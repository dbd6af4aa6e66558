package graft.registry

/** SQL fragments shared by the oracles of more than one family. */
private[graft] object OracleSql {

  /** DuckDB cosine machinery: dim is fixed at 64 by the fixtures
    * (FIXTURES.md), so positions come from `range(1,65)`; products are
    * CAST to DOUBLE first so both engines do float32→float64 math; the
    * zero-norm guard mirrors `vectolite.py:159-162`.
    */
  private[registry] val qVecCte =
    "q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)"

  private[registry] val scoreVsQ =
    s"""WITH $qVecCte,
       |s AS (
       |  SELECT e.vec_id,
       |    SUM(CAST(e.embedding[r.i] AS DOUBLE) * CAST(q.qe[r.i] AS DOUBLE)) AS dot,
       |    SQRT(SUM(CAST(e.embedding[r.i] AS DOUBLE) * CAST(e.embedding[r.i] AS DOUBLE))) AS na,
       |    SQRT(SUM(CAST(q.qe[r.i] AS DOUBLE) * CAST(q.qe[r.i] AS DOUBLE))) AS nb
       |  FROM embeddings e CROSS JOIN q CROSS JOIN range(1,65) r(i)
       |  GROUP BY e.vec_id
       |),
       |sc AS (SELECT vec_id, CASE WHEN na * nb = 0 THEN 0.0 ELSE dot / (na * nb) END AS score,
       |              dot, na FROM s)""".stripMargin

  /** Shared CTE pair re-deriving the LSH index FROM SCRATCH in SQL —
    * possible because [[graft.operators.AnnIndex.tablePlanes]] is
    * md5-derived (round-11): plane(t,b,i) = 2·(u1+u2+u3)−3 where u_j is
    * the j-th 8-hex-digit chunk of md5("plane:seed:t:b:i") over 2^32.
    * Every intermediate is an exact double (32-bit dyadic rationals,
    * ≤ 34 significand bits summed), so DuckDB reproduces the planes
    * bit-identically; bucket sign margins sit far above the ~1e-15
    * summation-order noise of the dot fold. `sigs` is (vec_id, t,
    * bucket) for every vector — exactly `AnnIndex.buildIndex` minus the
    * embedding payload. Used by the five LSH oracle rows (`near_dup_lsh`,
    * `ann_topk`, `near_dedup_apply_lsh`, both stream probes): the oracle
    * is an independent re-derivation, not a replay.
    */
  private[registry] def lshSigsCte(nTables: Int, nBits: Int, seed: Int = 42, dim: Int = 64): String = {
    def u(off: Int) = s"(('0x' || substr(md5(k), $off, 8))::BIGINT / 4294967296.0)"
    s"""planes AS (
       |  SELECT t.t, b.b, i.i,
       |    2.0 * (${u(1)} + ${u(9)} + ${u(17)}) - 3.0 AS w
       |  FROM (SELECT UNNEST(range($nTables)) AS t) t
       |  CROSS JOIN (SELECT UNNEST(range($nBits)) AS b) b
       |  CROSS JOIN (SELECT UNNEST(range($dim)) AS i) i
       |  CROSS JOIN LATERAL (SELECT 'plane:$seed:' || t.t || ':' || b.b || ':' || i.i AS k) m),
       |sigs AS (
       |  SELECT vec_id, t,
       |    SUM(CASE WHEN dot > 0 THEN (1 << b) ELSE 0 END)::BIGINT AS bucket
       |  FROM (
       |    SELECT e.vec_id, p.t, p.b,
       |      SUM(p.w * CAST(e.embedding[p.i + 1] AS DOUBLE)) AS dot
       |    FROM embeddings e CROSS JOIN planes p
       |    GROUP BY e.vec_id, p.t, p.b)
       |  GROUP BY vec_id, t)""".stripMargin
  }

  /** DuckDB CTE chain deriving dHash signatures for a preceding CTE
    * `src(doc_id, text)` — the stride-sampler fallback arithmetic of
    * [[graft.operators.Multimodal.dHash64]] re-derived from the raw
    * UTF-8 bytes (round-18): sample byte ⌊i·n/72⌋ into a 9×8 grid, set
    * bit y·8+x iff grid(y,x+1) > grid(y,x), kept as two 32-bit halves
    * (the simhash_pairs discipline — no bit-63 shift). Parameterized
    * like [[bm25CteFor]] so the batch and corpus sides of the
    * incremental oracles splice the SAME arithmetic (one copy to edit,
    * oracles can never desync); WITHOUT a leading `WITH`; yields
    * `${p}sig(doc_id, sig_lo, sig_hi)`. NULL/empty text maps to
    * signature 0 — exactly dHash64's null/empty-bytes early return
    * (`n IS NULL OR n = 0` covers both; a WHERE n > 0 alone would
    * silently DROP a null-text row the Spark side keeps).
    */
  private[registry] def dhashSigsCte(src: String, p: String): String =
    s"""${p}raw AS (
      |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
      |  FROM $src),
      |${p}grid AS (
      |  SELECT doc_id, n,
      |    list_transform(range(0, 72), i ->
      |      ('0x' || substr(hx, 2 * ((i * n) // 72) + 1, 2))::INT) AS g
      |  FROM ${p}raw WHERE n > 0),
      |${p}sig AS (
      |  SELECT doc_id,
      |    COALESCE(list_sum(list_transform(range(0, 32), p ->
      |      CASE WHEN g[(p // 8) * 9 + (p % 8) + 2] > g[(p // 8) * 9 + (p % 8) + 1]
      |        THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END)), 0) AS sig_lo,
      |    COALESCE(list_sum(list_transform(range(32, 64), p ->
      |      CASE WHEN g[(p // 8) * 9 + (p % 8) + 2] > g[(p // 8) * 9 + (p % 8) + 1]
      |        THEN (CAST(1 AS BIGINT) << (p - 32)) ELSE CAST(0 AS BIGINT) END)), 0) AS sig_hi
      |  FROM ${p}grid
      |  UNION ALL
      |  SELECT doc_id, 0 AS sig_lo, 0 AS sig_hi FROM ${p}raw WHERE n IS NULL OR n = 0)""".stripMargin

  /** Pairwise cosine over a `cand(a_id, b_id)` CTE — the [[scoreVsQ]]
    * fold applied to both sides of each candidate pair; yields
    * `scored(a_id, b_id, score)`.
    */
  private[registry] val pairCosineCte =
    """sc AS (
      |  SELECT c.a_id, c.b_id,
      |    SUM(CAST(a.embedding[r.i] AS DOUBLE) * CAST(b.embedding[r.i] AS DOUBLE)) AS dot,
      |    SQRT(SUM(CAST(a.embedding[r.i] AS DOUBLE) * CAST(a.embedding[r.i] AS DOUBLE))) AS na,
      |    SQRT(SUM(CAST(b.embedding[r.i] AS DOUBLE) * CAST(b.embedding[r.i] AS DOUBLE))) AS nb
      |  FROM cand c
      |  JOIN embeddings a ON a.vec_id = c.a_id
      |  JOIN embeddings b ON b.vec_id = c.b_id
      |  CROSS JOIN range(1, 65) r(i)
      |  GROUP BY c.a_id, c.b_id),
      |scored AS (
      |  SELECT a_id, b_id,
      |    CASE WHEN na * nb = 0 THEN 0.0 ELSE dot / (na * nb) END AS score
      |  FROM sc)""".stripMargin

  /** `name(<id>, sh)`: the distinct whitespace-bigram shingle set of the
    * `text` column of every row of `from` (a relation, optionally with a
    * WHERE clause) — the n = 2 shingles of [[graft.operators.Dedup]]'s
    * Jaccard operators; `doc_id` surfaces as `id`. WITHOUT a leading
    * `WITH`.
    */
  private[registry] def bigramSetsCte(name: String, from: String,
                                      text: String = "text", id: String = "doc_id"): String =
    s"""$name AS (
       |  SELECT doc_id AS $id,
       |    list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS sh
       |  FROM (SELECT doc_id, regexp_split_to_array(trim($text), '\\s+') AS toks FROM $from))""".stripMargin

  /** Connected components over a preceding `pr<sfx>(a_id, b_id)` pair CTE:
    * symmetrize into `edges<sfx>`, walk the transitive closure in
    * `walk<sfx>` (UNION dedups, so the walk terminates on the fixed node
    * set; needs `WITH RECURSIVE`), then label every node with the min
    * over itself and everything reachable in `lab<sfx>(id, group_id)` —
    * exactly [[graft.operators.Dedup.nearDupGroups]]' converged label
    * (id == group_id marks the survivor). WITHOUT a leading `WITH`.
    */
  private[registry] def componentsCte(sfx: String = ""): String =
    s"""edges$sfx AS (
       |  SELECT a_id AS src, b_id AS dst FROM pr$sfx
       |  UNION SELECT b_id, a_id FROM pr$sfx),
       |walk$sfx AS (
       |  SELECT src, dst FROM edges$sfx
       |  UNION
       |  SELECT w.src, e.dst FROM walk$sfx w JOIN edges$sfx e ON w.dst = e.src),
       |lab$sfx AS (SELECT src AS id, LEAST(src, MIN(dst)) AS group_id FROM walk$sfx GROUP BY src)""".stripMargin

  /** Quality scoring over `src(doc_id, text)` rows passing `filter` (a
    * WHERE clause or ""). `qt(doc_id, text, ltok, tok, ntok, len)`
    * tokenizes like the engine — blank text counts 0 tokens, not DuckDB's
    * [''] — and `qs(doc_id, text, ntok, len, quality, dupfrac)` replays
    * [[graft.operators.TextAnalysis.qualityScore]] INCLUDING its
    * ROUND(…, 6): the Spark side compares the rounded score too, so every
    * quality cut is engine-stable. The len = 0 / ntok = 0 guards
    * reproduce the Column implementation's when(...) branches; `dupfrac`
    * is the quality filter's duplicate-token fraction. WITHOUT a leading
    * `WITH`.
    */
  private[registry] def qualityCte(src: String = "documents", filter: String = ""): String =
    s"""qt AS (
       |  SELECT doc_id, text,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS ltok,
       |    regexp_split_to_array(trim(text), '\\s+') AS tok,
       |    CASE WHEN trim(text) = '' THEN 0
       |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS ntok,
       |    CAST(length(text) AS DOUBLE) AS len
       |  FROM $src $filter),
       |qs AS (
       |  SELECT doc_id, text, ntok, len,
       |    ROUND((LEAST(len / 200.0, 1.0) + LEAST(ntok / 40.0, 1.0) +
       |      GREATEST(1.0 - (CASE WHEN len = 0 THEN 0.0
       |        ELSE (len - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) / len END) * 4.0, 0.0) +
       |      LEAST((CASE WHEN ntok = 0 THEN 0.0
       |        ELSE len(list_filter(ltok, x -> x IN ('the','a','an','and','of','to','in','is','it','for','on','with'))) / CAST(ntok AS DOUBLE) END) * 5.0, 1.0)
       |      ) / 4.0, 6) AS quality,
       |    CASE WHEN ntok = 0 THEN 0.0
       |      ELSE (ntok - len(list_distinct(tok))) / CAST(ntok AS DOUBLE) END AS dupfrac
       |  FROM qt)""".stripMargin

  /** The quality filter's keep rule over [[qualityCte]]'s `qs` columns. */
  private[registry] val qualityKept =
    "NOT (len < 50) AND NOT (ntok < 10) AND NOT (dupfrac > 0.5) AND NOT (quality < 0.3)"
}
