package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SessionCache
import graft.operators._

import Artifacts._
import OracleSql._

/** Text analysis (E5): chunking, token/quality/language metrics, PII and
  * line curation, sketches, count tables.
  */
private[graft] object TextRows {

  /** Sketch capacity of the heavy-hitter rows. */
  private[registry] val HhK = 20

  /** The MG-theorem invariant row shared by `heavy_hitters` (batch) and
    * `stream_heavy_hitters` (maintained over micro-batches): both
    * guarantees checked mechanically against the EXACT counts —
    * guaranteed set (tf > N/(k+1)) ⊆ sketch, and every estimate within
    * [f − N/(k+1), f]. The oracle recomputes n_guaranteed exactly and
    * pins the flags at 1, so any implementation bug (update rule, merge
    * tree, encoder, stream fold) breaks the hash.
    */
  private[registry] def hhInvariantRow(s: SparkSession, dir: String,
                             sketch: Map[String, Long]): DataFrame = {
    import s.implicits._
    // (the r21 caller-side scan floor moved INTO CountTable.counts in
    // r22 — TextAnalysis.scanFloor — so every counts consumer gets it)
    val floored = docs(s, dir).select(col("doc_id"), col("text"))
    // ONE evaluation of the exact-count aggregation (r22):
    // the invariant check reads `counts` three times (total mass,
    // guaranteed set, exact counts of the sketched terms) and an
    // unpinned frame re-ran the full tokenize+count pass per read. Lazy
    // checkpoint, vocab-sized blocks, released before returning (the
    // emitted row is driver-side scalars).
    val counts = CountTable.counts(floored, "text", n = 1)
      .localCheckpoint(eager = false)
    try {
      val totalN = counts.agg(sum(col("tf"))).head.getLong(0)
      val bound = Sketches.mgErrorBound(totalN, HhK)
      val guaranteed = counts.filter(col("tf") > bound)
        .select(col("ngram")).as[String].collect().toSet
      val exact = counts
        .filter(col("ngram").isin(sketch.keys.toSeq: _*))
        .select(col("ngram"), col("tf")).as[(String, Long)].collect().toMap
      val allFound = guaranteed.subsetOf(sketch.keySet)
      val boundsOk = sketch.forall { case (t, est) =>
        val f = exact.getOrElse(t, 0L)
        est <= f && est >= f - bound
      }
      Seq((HhK.toLong, guaranteed.size.toLong,
          if (allFound) 1L else 0L, if (boundsOk) 1L else 0L))
        .toDF("k", "n_guaranteed", "all_found", "bounds_ok")
    } finally Dedup.releaseCheckpointBlocks(counts)
  }

  /** Count-table lifecycle parity (round-13): build the word count table
    * on the first 3/4 of the corpus, APPEND the last quarter as delta
    * files, COMPACT, and prove the maintained table equals a
    * from-scratch recount over everything — the append-don't-recount
    * contract of maintained corpus statistics
    * ([[operators.CountTable]]). The row emits the table's invariant
    * totals (n distinct words, Σtf, Σdf — all recomputable in SQL) plus
    * the parity flag, so any drift in the delta/merge/compact arithmetic
    * hash-fails.
    */
  private def vocabIndexAppendParity(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCreate(s"vocab_index_append_parity:$dir") {
      val d = docs(s, dir)
      val cut = d.count() * 3 / 4
      val path = SessionCache.newTempDir("graft-count-table")
      CountTable.build(d.filter(col("doc_id") < cut), "text", n = 1, path)
      CountTable.append(d.filter(col("doc_id") >= cut), "text", n = 1, path)
      CountTable.compact(s, path)
      val maintained = CountTable.read(s, path)
      val rebuilt = CountTable.counts(d, "text", n = 1)
      val parity = maintained.except(rebuilt).isEmpty &&
        rebuilt.except(maintained).isEmpty
      val t = maintained.agg(count(lit(1)).as("n"), sum(col("tf")).as("tf"),
        sum(col("df")).as("df")).head()
      import s.implicits._
      Seq((t.getLong(0), t.getLong(1), t.getLong(2), if (parity) 1L else 0L))
        .toDF("n_ngrams", "total_tf", "total_df", "parity")
    }

  /** Count-table DELETE as a hash row (round-13): build on the full
    * corpus, then [[CountTable.delete]] the last quarter (negated deltas)
    * and compact. The maintained view must equal a from-scratch recount
    * over the SURVIVORS — parity computed engine-side, and the emitted
    * invariant totals recomputed independently by the oracle over the
    * surviving docs, so the row is real-valued, not a constant.
    */
  private def vocabDeleteParity(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCreate(s"vocab_delete_parity:$dir") {
      val d = docs(s, dir)
      val cut = d.count() * 3 / 4
      val path = SessionCache.newTempDir("graft-count-table-del")
      CountTable.build(d, "text", n = 1, path)
      CountTable.delete(d.filter(col("doc_id") >= cut), "text", n = 1, path)
      CountTable.compact(s, path)
      val maintained = CountTable.read(s, path)
      val survivors = CountTable.counts(d.filter(col("doc_id") < cut), "text", n = 1)
      val parity = maintained.except(survivors).isEmpty &&
        survivors.except(maintained).isEmpty
      val t = maintained.agg(count(lit(1)).as("n"), sum(col("tf")).as("tf"),
        sum(col("df")).as("df")).head()
      import s.implicits._
      Seq((t.getLong(0), t.getLong(1), t.getLong(2), if (parity) 1L else 0L))
        .toDF("n_ngrams", "total_tf", "total_df", "parity")
    }

  /** ONE heavy-hitters invariant oracle shared by the batch and streaming
    * sketch rows (see [[hhInvariantRow]]).
    */
  private[registry] val heavyHittersSql =
    """WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      |  FROM documents WHERE trim(text) <> ''),
      |cnt AS (SELECT word, COUNT(*) AS tf FROM tok GROUP BY word),
      |n AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total FROM cnt)
      |SELECT CAST(20 AS BIGINT) AS k,
      |  CAST((SELECT COUNT(*) FROM cnt, n WHERE tf > total / 21) AS BIGINT)
      |    AS n_guaranteed,
      |  CAST(1 AS BIGINT) AS all_found,
      |  CAST(1 AS BIGINT) AS bounds_ok""".stripMargin

  /** ONE line-cleaning oracle (list-HOF replay of the C4-style rules over
    * the planted 4-line layout — trim/empty-drop mirrors
    * `TextAnalysis.linesOf`; the cleaned string hash-checks the whole
    * rule set) shared by the batch `line_clean` row and the streaming
    * `stream_line_clean` row: the pass is a stateless projection, so the
    * batch replay IS the stream's semantics.
    */
  private[registry] val lineCleanSql =
    """WITH aug AS (
      |  SELECT doc_id,
      |    'Subscribe to our newsletter' || chr(10) || text || '.' || chr(10) ||
      |    'copyright footer all pages share' || chr(10) ||
      |    'unique ' || CAST(doc_id AS VARCHAR) AS t
      |  FROM documents),
      |l AS (
      |  SELECT doc_id,
      |    list_filter(list_transform(string_split(t, chr(10)), s -> trim(s)),
      |      s -> s <> '') AS ls
      |  FROM aug),
      |k AS (
      |  SELECT doc_id, ls,
      |    list_filter(ls, s ->
      |      len(list_filter(string_split_regex(s, '\s+'), w -> w <> '')) >= 5
      |      AND NOT regexp_matches(s, '(?i)subscribe|cookie')) AS kept
      |  FROM l)
      |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
      |  CAST(len(kept) AS BIGINT) AS n_kept,
      |  array_to_string(kept, chr(10)) AS cleaned
      |FROM k ORDER BY doc_id""".stripMargin

  /** Boilerplate-line removal replay over the planted 4-line layout —
    * shared by `line_boilerplate` (hot set recomputed from the corpus)
    * and `hotlines_append_parity` (hot set served from the persisted
    * table after build+append+compact).
    */
  private[registry] val lineBoilerplateSql: String = lineBoilerplateSqlFor("")

  /** [[lineBoilerplateSql]] over a RESTRICTED corpus (`where` applies to
    * the aug CTE, so both the hot-line df and the removal pass see the
    * same surviving docs) — the delete-parity oracle's shape.
    */
  private def lineBoilerplateSqlFor(where: String): String =
    s"""WITH aug AS (
        |  SELECT doc_id,
        |    'Subscribe to our newsletter' || chr(10) || text || '.' || chr(10) ||
        |    'copyright footer all pages share' || chr(10) ||
        |    'unique ' || CAST(doc_id AS VARCHAR) AS t
        |  FROM documents $where),
        |l AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(t, chr(10)), s -> trim(s)),
        |      s -> s <> '') AS ls
        |  FROM aug),
        |df AS (
        |  SELECT line, COUNT(*) AS n_docs FROM (
        |    SELECT DISTINCT doc_id, line FROM (
        |      SELECT doc_id, unnest(ls) AS line FROM l))
        |  GROUP BY line),
        |hot AS (SELECT line FROM df WHERE n_docs > 100),
        |pos AS (
        |  SELECT doc_id, u.i, u.s AS line
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(ls, (x, i) -> struct_pack(s := x, i := i))) AS u
        |        FROM l)),
        |kept AS (
        |  SELECT p.doc_id, p.i, p.line
        |  FROM pos p LEFT JOIN hot h ON p.line = h.line WHERE h.line IS NULL),
        |agg AS (SELECT doc_id, list(line ORDER BY i) AS kls FROM kept GROUP BY doc_id)
        |SELECT l.doc_id,
        |  CAST(len(l.ls) - COALESCE(len(a.kls), 0) AS BIGINT) AS n_removed,
        |  md5(COALESCE(array_to_string(a.kls, chr(10)), '')) AS clean_sha
        |FROM l LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Shared by `pii_scrub` and `stream_pii_scrub`: the streaming face is
    * a stateless projection of the same redaction pass over the same
    * planted PII, so one SQL derivation oracle-checks both.
    */
  private[registry] lazy val piiScrubOracle: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      |    '@mail.example.com or 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) ||
      |    ' now' AS t
      |  FROM documents
      |),
      |s AS (
      |  SELECT doc_id,
      |    regexp_replace(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g') AS e,
      |    CAST(len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_email
      |  FROM aug
      |)
      |SELECT doc_id,
      |  regexp_replace(e, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b|\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS scrubbed,
      |  n_email + CAST(len(regexp_extract_all(e, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b|\b[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_pii
      |FROM s ORDER BY doc_id""".stripMargin

  private val langCase = {
    def hits(ms: Seq[String]) =
      s"len(list_filter(tok, x -> x IN (${ms.map(m => s"'$m'").mkString(",")})))"
    val en = hits(Seq("the", "and", "of", "is", "with", "for"))
    val de = hits(Seq("der", "die", "und", "ist", "mit", "für"))
    val es = hits(Seq("el", "la", "los", "es", "con", "para"))
    val fr = hits(Seq("le", "la", "les", "est", "avec", "pour"))
    // Tie-break mirrors Spark's array_max over (hits, lang) structs:
    // equal hit counts resolve to the lexicographically larger lang code.
    s"""CASE WHEN GREATEST($en,$de,$es,$fr) = 0 THEN 'und'
       |     WHEN $fr >= $en AND $fr >= $de AND $fr >= $es THEN 'fr'
       |     WHEN $es >= $en AND $es >= $de THEN 'es'
       |     WHEN $en >= $de THEN 'en'
       |     ELSE 'de' END""".stripMargin
  }

  val rows: Seq[Declared] = Seq(
    // ---- O12: chunker on single-paragraph text (degenerate, exact) ---
    Declared("chunk_single", (s, dir) =>
      Chunker.explodeChunks(docs(s, dir), "text")
        .select(col("doc_id"),
          col("chunk_index").cast("long").as("chunk_index"),
          col("total_chunks").cast("long").as("total_chunks"),
          col("chunk"))
        .orderBy("doc_id", "chunk_index"),
      // single-paragraph texts (no blank lines in the fixture) → exactly one
      // chunk = trimmed text; the greedy path is unit-tested, not oracled.
      // trim char set matches Java String.trim (space/tab/LF/CR), not
      // DuckDB's space-only default.
      oracle = """SELECT doc_id, CAST(0 AS BIGINT) AS chunk_index, CAST(1 AS BIGINT) AS total_chunks,
        |  trim(text, ' ' || chr(9) || chr(10) || chr(13)) AS chunk
        |FROM documents ORDER BY doc_id, chunk_index""".stripMargin),

    // ---- O12: greedy packing on synthesized paragraphs (rows-only) ---
    Declared("chunk_greedy", (s, dir) =>
      Chunker.explodeChunks(
          docs(s, dir).withColumn("paras", regexp_replace(col("text"), " ", "\n\n")),
          "paras", maxChars = 80, overlap = 10)
        .select(col("doc_id"),
          col("chunk_index").cast("long").as("chunk_index"),
          col("total_chunks").cast("long").as("total_chunks"),
          col("chunk"))
        .orderBy("doc_id", "chunk_index"),
      // Greedy packing oracle: a recursive CTE that replays the reference
      // algorithm (vectolite.py:389-403) paragraph by paragraph — flush when
      // len(cur)+len(para)+2 > max_chars(80), seed the next chunk with the
      // last overlap(10) chars of the UNTRIMMED buffer when len(cur)>overlap.
      // Paragraphs here are words (the declared query rewrites ' '→'\n\n').
      // Java trim charset (space/tab/LF/CR) spelled out, as in chunk_single.
      oracle = """WITH RECURSIVE
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |pn AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY g.i) AS i,
        |    trim(ws[g.i], ' ' || chr(9) || chr(10) || chr(13)) AS para
        |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
        |  WHERE len(trim(ws[g.i], ' ' || chr(9) || chr(10) || chr(13))) > 0
        |),
        |rec AS (
        |  SELECT doc_id, i, para AS cur, CAST(NULL AS VARCHAR) AS flushed
        |  FROM pn WHERE i = 1
        |  UNION ALL
        |  SELECT r.doc_id, p.i,
        |    CASE WHEN len(r.cur) + len(p.para) + 2 > 80
        |         THEN CASE WHEN len(r.cur) > 10
        |                   THEN substr(r.cur, len(r.cur) - 10 + 1) || chr(10) || chr(10) || p.para
        |                   ELSE p.para END
        |         ELSE r.cur || chr(10) || chr(10) || p.para END AS cur,
        |    CASE WHEN len(r.cur) + len(p.para) + 2 > 80
        |         THEN trim(r.cur, ' ' || chr(9) || chr(10) || chr(13)) ELSE NULL END AS flushed
        |  FROM rec r JOIN pn p ON p.doc_id = r.doc_id AND p.i = r.i + 1
        |),
        |emitted AS (
        |  SELECT doc_id, i, flushed AS chunk FROM rec WHERE flushed IS NOT NULL
        |  UNION ALL
        |  SELECT r.doc_id, r.i + 1, trim(r.cur, ' ' || chr(9) || chr(10) || chr(13)) AS chunk
        |  FROM rec r JOIN (SELECT doc_id, MAX(i) AS mi FROM rec GROUP BY doc_id) m
        |    ON r.doc_id = m.doc_id AND r.i = m.mi
        |)
        |SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS BIGINT) AS chunk_index,
        |  CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS total_chunks,
        |  chunk
        |FROM emitted ORDER BY doc_id, chunk_index""".stripMargin),

    // ---- E5/pipeline: token counting ---------------------------------
    Declared("token_count", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.approxSubwordCount(col("text")).cast("long").as("approx_subwords"))
        .orderBy("doc_id"),
      // guard: DuckDB splits '' into [''] (1 token) while the engine's
      // tokenizer filters empties — blank text must count 0 on both sides.
      oracle = """SELECT doc_id,
        |  CASE WHEN trim(text) = '' THEN 0
        |       ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS n_tokens,
        |  CASE WHEN trim(text) = '' THEN 0
        |       ELSE CAST(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'),
        |            x -> GREATEST(CAST(CEIL(length(x) / 4.0) AS BIGINT), 1))) AS BIGINT) END AS approx_subwords
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- pipeline: quality scoring -----------------------------------
    Declared("quality_score", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      // ntok mirrors the engine tokenizer (blank text → 0, not ['']); the
      // len=0 / ntok=0 guards reproduce the Column implementation's
      // when(...) branches (punct ratio 0 and stopword ratio 0 for blanks).
      oracle = s"""WITH ${qualityCte()}
         |SELECT doc_id, quality FROM qs ORDER BY doc_id""".stripMargin),

    // ---- pipeline: language-ID heuristic -----------------------------
    Declared("lang_id", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_guess"))
        .orderBy("doc_id"),
      oracle = s"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tok FROM documents
         |)
         |SELECT doc_id, $langCase AS lang_guess FROM t ORDER BY doc_id""".stripMargin),

    // ---- pipeline: content fingerprint (md5, cross-engine) -----------
    Declared("doc_fingerprint", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.fingerprint(col("text"), 8).as("fp"))
        .orderBy("doc_id"),
      oracle = """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')))[1:8], ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- E5: per-(lang, source) corpus rollups -----------------------
    Declared("text_stats", (s, dir) =>
      docs(s, dir).groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("total_chars"),
          round(avg(length(col("text"))), 6).as("avg_chars"),
          sum(TextAnalysis.tokenCount(col("text"))).as("total_tokens"))
        .orderBy("lang", "source"),
      oracle = """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
        |  ROUND(AVG(length(text)), 6) AS avg_chars,
        |  CAST(SUM(CASE WHEN trim(text) = '' THEN 0
        |           ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin),

    // E5 (round-13): corpus VOCABULARY — top-30 words by term frequency
    // with doc frequency: the word-count table BPE/WordPiece training
    // starts from. Two-level agg (word,doc pre-agg → word rollup) so the
    // shuffle carries distinct pairs, then a k-bounded top-N.
    Declared("vocab_topn", (s, dir) =>
      TextAnalysis.vocabulary(docs(s, dir), "doc_id", "text", topN = 30)
        .select(col("word"), col("tf").cast("long").as("tf"),
          col("df").cast("long").as("df")),
      // Tokenization + blank guard mirror token_count; tie-break (tf desc,
      // word asc) is total because words are distinct after the rollup.
      oracle = """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents WHERE trim(text) <> ''
        |)
        |SELECT word, CAST(COUNT(*) AS BIGINT) AS tf,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |FROM tok GROUP BY word ORDER BY tf DESC, word LIMIT 30""".stripMargin),

    // E5 (round-13): exact distinct-word count + HLL++ sketch parity —
    // the row that justifies trusting approx_count_distinct as the
    // per-build monitor at 100 TB (the sketch needs no distinct shuffle;
    // the exact count is the rare audit). approx_ok is the ≤5% bound.
    Declared("approx_distinct", (s, dir) =>
      TextAnalysis.distinctWordStats(docs(s, dir), "text")
        .select(col("n_words").cast("long").as("n_words"), col("approx_ok")),
      // The sketch side is engine-internal (HLL++); the oracle checks the
      // EXACT count and the constant within-5% verdict the row emits.
      oracle = """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents WHERE trim(text) <> ''
        |)
        |SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words,
        |  TRUE AS approx_ok FROM tok""".stripMargin),

    // E5 (round-13): PII SCRUB — redact emails/phones with typed
    // sentinels, counting redactions. The fixture text is synthetic word
    // salad with no PII, so the row plants deterministic PII (one email,
    // one NANP phone derived from doc_id) identically on both sides —
    // the scrubbed STRING hash-checks the full replacement behavior.
    // Patterns restricted to Java-regex/RE2-identical syntax.
    Declared("pii_scrub", (s, dir) =>
      docs(s, dir).select(col("doc_id"), piiAugmented.as("__aug"))
        .select(col("doc_id"),
          TextAnalysis.scrubPii(col("__aug")).as("scrubbed"),
          TextAnalysis.piiCount(col("__aug")).as("n_pii"))
        .orderBy("doc_id"),
      // Same augmentation, patterns, replacement order and 'replace-all'
      // semantics as the engine row; phone count runs after email
      // redaction on both sides so the two totals decompose identically.
      oracle = piiScrubOracle),

    // E5 (round-14): C4-STYLE LINE CLEANING — per-document line rules
    // (min words, boilerplate-marker regex) over the planted 4-line
    // layout (see lineAugmented): the short subscribe header and the
    // 2-word unique tail drop, content and the footer survive. Pure
    // codegen HOFs, one split per row, nothing leaves the row — the
    // line-level face of the quality filter. The cleaned STRING
    // hash-checks the whole rule set.
    Declared("line_clean", (s, dir) =>
      TextAnalysis.lineClean(
          docs(s, dir).select(col("doc_id"), lineAugmented.as("text")),
          "text", minWords = 5, boilerplateRe = "(?i)subscribe|cookie")
        .select(col("doc_id"), col("n_lines"), col("n_kept"), col("cleaned"))
        .orderBy("doc_id"),
      // Line rules replayed with list HOFs over the same planted 4-line
      // layout; shared with the streaming row (stateless projection — the
      // batch replay IS the stream's semantics).
      oracle = lineCleanSql),

    // E4/E5 (round-14): INTERDOC BOILERPLATE-LINE REMOVAL — lines shared
    // by more than maxDocFreq documents (the planted header + footer:
    // df = |corpus| at every sf) are chrome, not content; they drop from
    // every doc while content lines (df ≤ 2 in the fixtures) survive.
    // The hot-line table aggregates per-doc-distinct lines (the vocab df
    // discipline — one line-vocabulary-sized exchange), then broadcasts
    // as a set for an in-row filter: the corpus never shuffles.
    Declared("line_boilerplate", (s, dir) => {
      val aug = docs(s, dir).select(col("doc_id"), lineAugmented.as("text"))
      val hot = TextAnalysis.hotLines(aug, "text", maxDocFreq = 100L)
      TextAnalysis.removeHotLines(aug, "text", hot)
        .select(col("doc_id"), col("n_removed"),
          md5(col("cleaned")).as("clean_sha"))
        .orderBy("doc_id")
    },
      // Interdoc hot-line removal replayed as per-doc-DISTINCT line df →
      // hot set (> 100 docs) → indexed anti-join → order-restoring
      // regroup; md5 of the re-joined survivors hash-checks the removal.
      oracle = lineBoilerplateSql),

    // E4/E5 lifecycle (round-15; VERDICT r14 "missing" #2): the SAME
    // boilerplate removal served from the PERSISTED hot-lines table
    // after its full lifecycle — build 60% + append 40% (per-batch
    // frequency deltas, single-commit epochs) + COMPACT (collapse the
    // deltas under the atomic swap). Sharing line_boilerplate's
    // recompute-from-corpus oracle proves append+compact == rebuild for
    // the line-curation artifact, completing the maintained-table story
    // (postings/vocab/ANN/IVF/count-table all had it; hot lines didn't).
    Declared("hotlines_append_parity", (s, dir) => {
      val path = hotLinesIdx(s, dir)
      HotLinesIndex.compact(s, path)
      val aug = docs(s, dir).select(col("doc_id"), lineAugmented.as("text"))
      TextAnalysis.removeHotLines(aug, "text",
          HotLinesIndex.hotLines(s, path, maxDocFreq = 100L))
        .select(col("doc_id"), col("n_removed"),
          md5(col("cleaned")).as("clean_sha"))
        .orderBy("doc_id")
    },
      // The persisted-table row must equal the recompute-from-corpus row
      // exactly — one oracle serves both (served == recomputed, the
      // append-parity pattern; the index is built 60% + appended 40% +
      // compacted, so the shared hash proves the whole lifecycle). The
      // stream-maintained table shares it too: recomputed == batch-
      // maintained == stream-maintained under one hash.
      oracle = lineBoilerplateSql),

    // E4/E5 lifecycle (round-15): hot-lines DELETE — retire a batch via
    // NEGATED single-commit deltas (doc frequencies form a group:
    // deletion is subtraction-by-summation, the count-table delete
    // discipline) + COMPACT folding the cancellation. Serving the
    // survivors must equal a recompute over the survivors alone — the
    // restricted-corpus twin of the append-parity oracle; a retired
    // doc's unique tail line must vanish from the table entirely.
    Declared("hotlines_delete_parity", (s, dir) => {
      val aug = docs(s, dir).select(col("doc_id"), lineAugmented.as("text"))
      val survivors = aug.filter(col("doc_id") < 300)
      TextAnalysis.removeHotLines(survivors, "text",
          HotLinesIndex.hotLines(s, hotLinesDeleteIdx(s, dir), maxDocFreq = 100L))
        .select(col("doc_id"), col("n_removed"),
          md5(col("cleaned")).as("clean_sha"))
        .orderBy("doc_id")
    },
      // Delete-parity: the same replay RESTRICTED to the surviving docs —
      // build-full + delete-tail + compact must serve exactly what a
      // from-scratch pass over the survivors computes.
      oracle = lineBoilerplateSqlFor("WHERE doc_id < 300")),

    // Lifecycle observability (round-16; VERDICT r15 next #8): the
    // committed-EPOCH COUNT is the operational health number of every
    // epoch'd index — the per-probe listing and the merge-on-read fan-in
    // both grow with appends-since-compact, so it must be SURFACED
    // (EpochCommit.committedCount), not inferred from an FS walk. This
    // row drives a dedicated index through build → append → compact →
    // append and pins the count at each step (1, 2, 1, 2): compact is
    // proven to actually collapse the epoch fan-in, and the surfaced
    // number is proven to track the lifecycle exactly. Constant row →
    // constant oracle. Cadence guidance lives in SCALE.md.
    Declared("epoch_count_lifecycle", (s, dir) => {
      val aug = docs(s, dir).select(col("doc_id"), lineAugmented.as("text"))
      val p = SessionCache.newTempDir("graft-epochcount")
      def n = graft.store.EpochCommit.committedCount(s, p).toLong
      HotLinesIndex.build(aug.filter(col("doc_id") < 200), "text", p)
      val afterBuild = n
      HotLinesIndex.append(
        aug.filter(col("doc_id") >= 200 && col("doc_id") < 300), "text", p)
      val afterAppend = n
      HotLinesIndex.compact(s, p)
      val afterCompact = n
      HotLinesIndex.append(aug.filter(col("doc_id") >= 300), "text", p)
      val afterSecond = n
      import s.implicits._
      Seq((afterBuild, afterAppend, afterCompact, afterSecond))
        .toDF("after_build", "after_append", "after_compact", "after_second_append")
    },
      // Designed constants: epoch count through build(1) → append(2) →
      // compact(1) → append(2) on a dedicated index.
      oracle = """SELECT CAST(1 AS BIGINT) AS after_build,
        |       CAST(2 AS BIGINT) AS after_append,
        |       CAST(1 AS BIGINT) AS after_compact,
        |       CAST(2 AS BIGINT) AS after_second_append""".stripMargin),

    // E5 (round-13): N-GRAM COUNT TABLE — trigram counts with a
    // min-count prune and deterministic top-50: the n>1 generalization
    // of vocab_topn (LM count tables, shingle-frequency forensics).
    Declared("ngram_counts", (s, dir) =>
      TextAnalysis.ngramCounts(docs(s, dir), "text", n = 3,
          minCount = 2L, topN = 50)
        .select(col("ngram"), col("cnt").cast("long").as("cnt")),
      // Trigram construction mirrors bigram_novelty's CTE shape; the
      // HAVING prune and (cnt desc, ngram asc) tie-break are total.
      oracle = """WITH tok AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE trim(text) <> ''
        |),
        |ng AS (
        |  SELECT unnest(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS ngram
        |  FROM tok
        |)
        |SELECT ngram, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM ng GROUP BY ngram HAVING COUNT(*) >= 2
        |ORDER BY cnt DESC, ngram LIMIT 50""".stripMargin),

    // E5/E7 (round-13): TOKENIZE — apply the corpus-derived vocabulary
    // (dense ids by tf desc/word asc, 0 = OOV) to every document,
    // emitting the id sequences training consumes. Vocab ids ranked via
    // per-partition prefix sums (no unpartitioned window); order
    // restored by per-row array sort. Completes the chain: count table →
    // vocabulary → token ids → pack_sequences.
    //
    // Round-14: DECLARED output is the posexploded scalar form
    // (doc_id, pos, token_id) — the r13 array<long> column crashed the
    // driver's pandas-based checker (`unhashable type: numpy.ndarray`
    // while sorting), so the declared projection carries scalars only.
    // Empty docs contribute no rows on either side (posexplode of []
    // here == no unnest rows in the oracle). The broadcast-map plan
    // underneath is unchanged (plan-shape-pinned in PlanShapeSpec).
    Declared("token_ids", (s, dir) => {
      val d = docs(s, dir)
      val vocab = TextAnalysis.vocabIds(CountTable.counts(d, "text", n = 1))
      TextAnalysis.tokenizeToIds(
          d.select(col("doc_id"), col("text")), "doc_id", "text", vocab)
        .select(col("doc_id"),
          posexplode(col("token_ids")).as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("token_id").cast("long").as("token_id"))
        .orderBy("doc_id", "pos")
    },
      // Vocab ranking replayed as a window (fine at oracle scale); the
      // indexed-lambda struct unnest reproduces posexplode's positions
      // (DuckDB's lambda index is 1-based — the i-1 shift aligns it with
      // Spark's 0-based posexplode). Scalar rows only: the r13 array form
      // crashed the driver's pandas sort. Blank docs yield no rows on
      // either side.
      oracle = """WITH tokraw AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents
        |),
        |cnt AS (
        |  SELECT word, COUNT(*) AS tf
        |  FROM (SELECT unnest(t) AS word FROM tokraw) GROUP BY word
        |),
        |v AS (SELECT word, ROW_NUMBER() OVER (ORDER BY tf DESC, word) AS id FROM cnt),
        |pos AS (
        |  SELECT doc_id, u.i, u.w AS word
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(t, (x, i) -> struct_pack(w := x, i := i))) AS u
        |        FROM tokraw)
        |),
        |m AS (SELECT p.doc_id, p.i, COALESCE(v.id, 0) AS id FROM pos p LEFT JOIN v USING (word))
        |SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, CAST(id AS BIGINT) AS token_id
        |FROM m ORDER BY doc_id, pos""".stripMargin),

    // E5 (round-13): token-length HISTOGRAM — the distribution every
    // corpus build charts (truncation pressure, short-doc mass, packing
    // efficiency). Partial agg collapses each partition to |buckets|
    // rows before the exchange.
    Declared("length_histogram", (s, dir) =>
      TextAnalysis.lengthHistogram(docs(s, dir), "text", bucketWidth = 20L),
      // Integer floor-div bucketing — exact on both engines.
      oracle = """WITH d AS (
        |  SELECT CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |  FROM documents)
        |SELECT CAST(n // 20 AS BIGINT) AS bucket,
        |  CAST((n // 20) * 20 AS BIGINT) AS lo,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
        |FROM d GROUP BY 1, 2 ORDER BY bucket""".stripMargin),

    // E5 (round-14): HEAVY-HITTER tokens via a Misra–Gries typed
    // Aggregator — O(k) state per task vs the vocabulary-sized count
    // table, with the textbook guarantees (no false negatives above
    // N/(k+1); estimates underestimate by at most N/(k+1)). INVARIANT
    // row (the ivf_topk pattern): both guarantees are checked
    // mechanically against the exact counts; the oracle recomputes
    // n_guaranteed exactly and pins the flags at 1 — any MG
    // implementation bug (update, merge-tree, encoder) breaks the hash.
    Declared("heavy_hitters", (s, dir) =>
      hhInvariantRow(s, dir,
        Sketches.heavyHitterTokens(
            docs(s, dir).select(col("text")), "text", HhK)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap),
      // The MG guarantees are theorems — the oracle recomputes the
      // guaranteed-set size from EXACT counts and pins both checks at 1;
      // the engine row goes red iff the sketch violates a bound. One
      // oracle serves batch AND streaming maintenance (guarantees are
      // merge-order-free).
      oracle = heavyHittersSql),

    // E5 (round-13): BIGRAM NOVELTY — per-doc integer-exact n-gram-LM
    // signals vs corpus bigram counts (familiarity = Σ corpus-frequency
    // of the doc's bigrams, rarest_cf = its most corpus-unique phrase).
    // Integer arithmetic so the row hash-checks (a float log-prob sum
    // would be summation-order-dependent); <2-token docs surface with
    // zeros, never silently dropped.
    Declared("bigram_novelty", (s, dir) =>
      TextAnalysis.bigramNovelty(
          docs(s, dir).select(col("doc_id"), col("text")), "doc_id", "text")
        .orderBy("doc_id"),
      // Bigram construction mirrors decontaminate (WITHOUT list_distinct —
      // novelty counts every occurrence); all-integer outputs, zeros for
      // <2-token docs via the left join.
      oracle = """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE trim(text) <> ''
        |),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM tok
        |),
        |cf AS (SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram),
        |per AS (
        |  SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(cf.c) AS BIGINT) AS familiarity,
        |    CAST(MIN(cf.c) AS BIGINT) AS rarest_cf
        |  FROM bg JOIN cf USING (bigram) GROUP BY bg.doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(COALESCE(p.familiarity, 0) AS BIGINT) AS familiarity,
        |  CAST(COALESCE(p.rarest_cf, 0) AS BIGINT) AS rarest_cf
        |FROM documents d LEFT JOIN per p USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // E5/E7 (round-13): the word count table as MAINTAINED state —
    // build/append/compact lifecycle with append+compact == rebuild
    // proven by the parity flag and hash-checked invariant totals
    // (CountTable: the vocabulary/statistics twin of the postings and
    // ANN index lifecycles).
    Declared("vocab_index_append_parity", (s, dir) => vocabIndexAppendParity(s, dir),
      // The engine row proves append+compact == rebuild on the maintained
      // count table and emits the table's invariant totals; the oracle
      // recomputes those totals from scratch and pins parity at 1.
      oracle = """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents WHERE trim(text) <> ''
        |)
        |SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS n_ngrams,
        |  CAST(COUNT(*) AS BIGINT) AS total_tf,
        |  CAST(COUNT(DISTINCT (doc_id, word)) AS BIGINT) AS total_df,
        |  CAST(1 AS BIGINT) AS parity
        |FROM tok""".stripMargin, cached = true),

    // E5/E7 (round-13): count-table DELETE — negated deltas invert the
    // append exactly; parity vs a survivor recount + invariant totals the
    // oracle recomputes independently.
    Declared("vocab_delete_parity", (s, dir) => vocabDeleteParity(s, dir),
      // The delete row's totals recomputed over ONLY the surviving 3/4 —
      // the engine's maintained table (after negated-delta delete +
      // compact) must land on exactly these numbers.
      oracle = """WITH cut AS (SELECT COUNT(*) * 3 // 4 AS c FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents, cut WHERE trim(text) <> '' AND doc_id < cut.c
        |)
        |SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS n_ngrams,
        |  CAST(COUNT(*) AS BIGINT) AS total_tf,
        |  CAST(COUNT(DISTINCT (doc_id, word)) AS BIGINT) AS total_df,
        |  CAST(1 AS BIGINT) AS parity
        |FROM tok""".stripMargin, cached = true),

    // E5: within-document repetition signals (Gopher-style quality
    // filters) — duplicate-token and duplicate-bigram fractions; catches
    // degenerate looping/boilerplate docs cross-document dedup never sees.
    Declared("repetition_stats", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
          round(TextAnalysis.dupTokenFrac(col("text")), 6).as("dup_token_frac"),
          round(TextAnalysis.dupNgramFrac(col("text"), 2), 6).as("dup_2gram_frac"))
        .orderBy("doc_id"),
      // Repetition: duplicate-token / duplicate-bigram fractions. Blank
      // text guards mirror token_count (DuckDB splits '' into ['']); bigram
      // i ranges over 1..ntok-1 with an inclusive 2-element slice.
      oracle = """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tok,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ntok
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, tok, ntok,
        |    CASE WHEN ntok < 2 THEN []::VARCHAR[]
        |         ELSE list_transform(range(1, ntok), i -> array_to_string(tok[i:i+1], ' ')) END AS ng
        |  FROM t)
        |SELECT doc_id,
        |  ROUND(CASE WHEN ntok = 0 THEN 0.0
        |    ELSE (ntok - len(list_distinct(tok))) / CAST(ntok AS DOUBLE) END, 6) AS dup_token_frac,
        |  ROUND(CASE WHEN len(ng) = 0 THEN 0.0
        |    ELSE (len(ng) - len(list_distinct(ng))) / CAST(len(ng) AS DOUBLE) END, 6) AS dup_2gram_frac
        |FROM g ORDER BY doc_id""".stripMargin),

    // E5: the FUSED single-pass metrics struct through the oracle gate —
    // same semantics as the composed Column rows (token_count,
    // repetition_stats, quality_filter) but computed by one UDF pass
    // (tokenize once, plain loops): the bulk-scan path, 9.6× the
    // composed forms at 2.5M docs (SCALE.md round-8 correction). The
    // DuckDB twin replays the same formulas, so this row proves the
    // fused arithmetic engine-exact, not just spec-equal.
    Declared("text_metrics_fused", (s, dir) =>
      docs(s, dir).select(col("doc_id"), TextAnalysis.metrics(col("text")).as("m"))
        .select(col("doc_id"),
          col("m.n_tokens").as("n_tokens"),
          round(col("m.dup_token_frac"), 6).as("dup_token_frac"),
          round(col("m.dup_2gram_frac"), 6).as("dup_2gram_frac"),
          col("m.quality").as("quality"),
          col("m.reasons").as("reasons"))
        .orderBy("doc_id"),
      // Fused metrics: one CTE chain replaying token count, both repetition
      // fractions, the rounded quality formula, and the audit reasons —
      // the DuckDB check that the single-pass Scala engine is bit-equal to
      // the relational formulation.
      oracle = s"""WITH ${qualityCte()},
         |g AS (
         |  SELECT doc_id,
         |    CASE WHEN ntok < 2 THEN []::VARCHAR[]
         |         ELSE list_transform(range(1, ntok), i -> array_to_string(tok[i:i+1], ' ')) END AS ng
         |  FROM qt),
         |q AS (
         |  SELECT doc_id, ntok, len, quality, dupfrac,
         |    CASE WHEN len(ng) = 0 THEN 0.0
         |      ELSE (len(ng) - len(list_distinct(ng))) / CAST(len(ng) AS DOUBLE) END AS dup2
         |  FROM qs JOIN g USING (doc_id))
         |SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
         |  ROUND(dupfrac, 6) AS dup_token_frac,
         |  ROUND(dup2, 6) AS dup_2gram_frac,
         |  quality,
         |  concat_ws(',',
         |    CASE WHEN len < 50 THEN 'too_short' END,
         |    CASE WHEN ntok < 10 THEN 'too_few_tokens' END,
         |    CASE WHEN dupfrac > 0.5 THEN 'repetitive' END,
         |    CASE WHEN quality < 0.3 THEN 'low_quality' END) AS reasons
         |FROM q ORDER BY doc_id""".stripMargin),

    // E5: quality filter WITH audit trail — every doc gets the list of
    // rules it fails ("" = keep), so per-rule drop rates are one groupBy
    // away instead of a pipeline rerun.
    Declared("quality_filter", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.filterReasons(col("text")).as("reasons"))
        .select(col("doc_id"),
          when(col("reasons") === "", 1L).otherwise(0L).as("kept"),
          col("reasons"))
        .orderBy("doc_id"),
      // Filter audit: reasons = concat_ws over the failing rules (NULL
      // branches skipped on both engines); quality replays the
      // quality_score formula INCLUDING its ROUND(...,6) — the Spark side
      // compares the rounded score too, so the 0.3 cut is engine-stable.
      oracle = s"""WITH ${qualityCte()}
         |SELECT doc_id,
         |  CAST(CASE WHEN reasons = '' THEN 1 ELSE 0 END AS BIGINT) AS kept, reasons
         |FROM (SELECT doc_id, concat_ws(',',
         |    CASE WHEN len < 50 THEN 'too_short' END,
         |    CASE WHEN ntok < 10 THEN 'too_few_tokens' END,
         |    CASE WHEN dupfrac > 0.5 THEN 'repetitive' END,
         |    CASE WHEN quality < 0.3 THEN 'low_quality' END) AS reasons
         |  FROM qs)
         |ORDER BY doc_id""".stripMargin),
  )
}
