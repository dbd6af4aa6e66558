package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.l2_norm
import graft.operators._
import graft.store.DocStore

import Artifacts._
import OracleSql._

/** Training-data pipeline compositions (E7): hygiene, ingest,
  * filter/mix/pack chains, sampling, the nightly daily drop, multimodal
  * ingest.
  */
private[graft] object PipelineRows {

  /** Stage-1 prefix of the nightly chain (exact-sha gate) — exposed so
    * BENCH can time the chain's prefixes per round (round-19; VERDICT
    * r18 "wrong" #4: the row's cost rose three rounds running and the
    * only decomposition lived in an on-demand profiler — with per-round
    * prefix timings in the artifact, a future rise names its stage:
    * s2 = s12 − s1, s3 = declared row − s12).
    */
  private[graft] def dailyDropStage1(s: SparkSession, dir: String): DataFrame = {
    val (cut, _) = dailyDropPostings(s, dir)
    val d = docs(s, dir)
    Dedup.dedupIncremental(d.filter(col("doc_id") >= cut), "doc_id", "text",
      Dedup.contentHashes(d.filter(col("doc_id") < cut), "text"))
  }

  /** Stage-1+2 prefix (sha gate → jaccard-vs-bucketed-postings). */
  private[graft] def dailyDropStage12(s: SparkSession, dir: String): DataFrame = {
    val (_, postingsTable) = dailyDropPostings(s, dir)
    Dedup.jaccardIncremental(dailyDropStage1(s, dir), "doc_id", "text",
      n = 2, threshold = 0.2, s.table(postingsTable))
  }

  // Only the one-time index BUILDS are session-cached (dailyDropPostings +
  // lshDedupIndex); the chain frame itself is reconstructed per call, so
  // each bench iteration re-runs the whole nightly loop — including
  // re-materializing the round-12 batch-frame pins — instead of re-scanning
  // the previous iteration's checkpoint blocks (which would time a cache
  // lookup, the r10 bench-hygiene trap).
  /** The END-TO-END daily-drop rehearsal (round-11 stretch): one incoming
    * batch (the last quarter of `documents` + its embeddings) runs the
    * whole incremental hygiene chain against a corpus represented ONLY by
    * its three persisted artifacts — content-hash set, shingle-postings
    * index, LSH index — exactly the 100 TB nightly loop:
    *
    *  1. exact sha dedup within the batch + against the corpus hashes
    *     ([[Dedup.dedupIncremental]]);
    *  2. n-gram jaccard near-dedup against the postings INDEX built+
    *     appended by the lifecycle above ([[Dedup.jaccardIncremental]]);
    *  3. embedding near-dedup against the persisted LSH index
    *     ([[AnnIndex.dedupIncrementalLSH]] — probe + exact-cosine verify).
    *
    * `documents` and `embeddings` are row-aligned (doc_id == vec_id), so
    * the same 3/4 cut drives all three stages. The md5-derived LSH
    * planes ([[lshSigsCte]]) make even the banding stage re-derivable in
    * SQL, so the survivor id set is fully oracle-checked (round-12);
    * PipelineSpec additionally pins the composition invariants (monotone
    * shrinking, survivors ⊆ batch, re-delivered text never survives).
    *
    * Contract note: the row emits the LSH stage's output, so only batch
    * docs that HAVE an embedding row can survive — on a fixture
    * generation where the tables are misaligned (sf0.1 ships 5000 docs
    * but 2000 embeddings, so no batch doc has one) the row is empty, and
    * the oracle's stage-3 CTE joins `embeddings` to reproduce exactly
    * that (round-12 cross-sf audit).
    */
  private[registry] def dailyDropRehearsal(s: SparkSession, dir: String): DataFrame = {
    val s2 = dailyDropStage12(s, dir)
    val (embCut, lshIdx) = lshDedupIndex(s, dir)
    val s3 = AnnIndex.dedupIncrementalLSH(
      s2.join(embs(s, dir).filter(col("vec_id") >= embCut),
          col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("embedding")),
      "doc_id", "embedding", lshIdx, threshold = 0.3, dedupCfg)
    s3.select(col("doc_id")).orderBy("doc_id")
  }

  val rows: Seq[Declared] = Seq(
    // ---- THE full training-set hygiene pipeline, composed ------------
    // chunk → embed → exact-dedup → decontaminate → split in ONE declared
    // query — the 100 TB story is the pipeline, not the operators in
    // isolation; this row catches interface mismatches (column collisions,
    // id-type drift) no per-operator row can. Synthetic duplicates
    // (docs<50 re-ingested under shifted ids) make the dedup stage real;
    // docs<10 stand in for the eval set, removed from the corpus and used
    // as decontamination probes. Single-paragraph fixture → one chunk per
    // doc (the chunk_single invariant), so the whole chain stays
    // oracle-expressible as one DuckDB CTE cascade.
    Declared("pipeline_hygiene", (s, dir) => {
      val d = docs(s, dir)
      // 1. ingest with synthetic duplicates under fresh ids
      val raw = d.select(col("doc_id"), col("text"))
        .unionAll(d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
      // 2. chunk (1:1 on this fixture; 1:N in general)
      val chunked = Chunker.explodeChunks(raw, "text")
        .select(col("doc_id"), col("chunk"))
      // 3. exact dedup — the min-id original survives each duplicate pair
      val deduped = Dedup.dedupExact(chunked, "doc_id", "chunk")
      // 4. decontaminate vs the eval probes (docs<10), which are
      // themselves excluded from the training corpus
      val corpus = deduped.filter(col("doc_id") >= 10)
      val contaminated = Dedup.contaminationPairs(
          corpus, d.filter(col("doc_id") < 10),
          "doc_id", "chunk", "doc_id", "text", n = 2, minOverlap = 3)
        .select(col("doc_id")).distinct()
      val clean = corpus.join(contaminated, Seq("doc_id"), "left_anti")
      // 5. embed + deterministic split; surface the oracle-checkable
      // invariants of each stage (token count, embedding shape/norm, split)
      val embedded = HashingEmbedder(64).embed(clean, "chunk", "embedding")
      Splits.assignSplit(embedded, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("chunk")).cast("long").as("n_tokens"),
          size(col("embedding")).cast("long").as("dim"),
          when(abs(l2_norm(col("embedding")) - 1.0d) < 0.001d, 1L)
            .otherwise(0L).as("unit_norm"),
          col("split"))
        .orderBy("doc_id")
    },
      // The composed hygiene pipeline, replayed stage-for-stage as one CTE
      // cascade: synthetic-dup ingest → chunk (= Java-trim on this
      // single-paragraph fixture) → exact dedup (min id per distinct chunk)
      // → drop eval docs + decontaminate against them (distinct shared
      // bigrams >= 3) → token/embedding invariants + md5-bucket split. Each
      // fragment is lifted verbatim from the already-green per-stage oracle
      // (chunk_single, exact_dup_sha, decontaminate, token_count,
      // embed_hash, split_assign).
      oracle = s"""WITH raw AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50
        |),
        |ch AS (
        |  SELECT doc_id, trim(text, ' ' || chr(9) || chr(10) || chr(13)) AS chunk FROM raw
        |),
        |ded AS (SELECT MIN(doc_id) AS doc_id, chunk FROM ch GROUP BY chunk),
        |corp AS (SELECT doc_id, chunk FROM ded WHERE doc_id >= 10),
        |${bigramSetsCte("cs", "corp", text = "chunk")},
        |${bigramSetsCte("ps", "documents WHERE doc_id < 10", id = "probe_id")},
        |contam AS (
        |  SELECT DISTINCT cs.doc_id FROM cs CROSS JOIN ps
        |  WHERE len(list_intersect(cs.sh, ps.sh)) >= 3
        |),
        |clean AS (
        |  SELECT doc_id, chunk FROM corp
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)
        |)
        |SELECT doc_id,
        |  CASE WHEN trim(chunk) = '' THEN 0
        |       ELSE CAST(len(regexp_split_to_array(trim(chunk), '\\s+')) AS BIGINT) END AS n_tokens,
        |  CAST(64 AS BIGINT) AS dim,
        |  CAST(CASE WHEN regexp_matches(lower(chunk), '[a-z0-9]') THEN 1 ELSE 0 END AS BIGINT) AS unit_norm,
        |  CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, chunk,
        |        ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b
        |      FROM clean)
        |ORDER BY doc_id""".stripMargin),

    // ---- multimodal: binary payload metadata -------------------------
    Declared("multimodal_bytes", (s, dir) =>
      Multimodal.fakeAssets(docs(s, dir), "text")
        .select(col("doc_id"),
          col("asset_meta.n_bytes").cast("long").as("n_bytes"),
          col("asset_meta.mime").as("mime"))
        .orderBy("doc_id"),
      // octet_length(encode(..)): UTF-8 BYTES, matching Spark's
      // length(binary) — plain length() counts characters and diverges on
      // any non-ASCII text.
      oracle = """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  'text/plain' AS mime
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Multimodal RESIZE (round-9): stride-sample each payload to the
    // target shape's byte budget (one fake pixel = one byte) and rewrite
    // the typed metadata. Post-resize byte count and dimensions are
    // DuckDB-derivable from the text alone, so the resize CONTRACT is a
    // real oracle row; the sampled bytes themselves are pinned by
    // MultimodalSpec (subsequence + determinism + within-budget
    // passthrough).
    Declared("multimodal_resize", (s, dir) =>
      Multimodal.resizeAsset(Multimodal.fakeAssets(docs(s, dir), "text"),
          "asset_bytes", "asset_meta", targetW = 12, targetH = 16)
        .select(col("doc_id"),
          col("asset_meta.n_bytes").cast("long").as("n_bytes"),
          col("asset_meta.width").cast("long").as("width"),
          col("asset_meta.height").cast("long").as("height"))
        .orderBy("doc_id"),
      // Resize contract: payload capped at the 12×16 = 192-byte budget
      // (stride-sampling never grows data), metadata pinned to the target
      // shape.
      oracle = """SELECT doc_id,
        |  CAST(LEAST(octet_length(encode(text)), 192) AS BIGINT) AS n_bytes,
        |  CAST(12 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- O13: ingest pipeline composition (chunk→meta→ids, no clock) --
    Declared("ingest_pipeline", (s, dir) => {
      val chunked = Chunker.explodeChunks(
        docs(s, dir).select(col("doc_id"), col("text"), col("source")), "text")
      val withMeta = chunked.withColumn("metadata",
        DocStore.packMetadata(col("source").as("source"),
          col("chunk_index").as("chunk_index"), col("total_chunks").as("total_chunks")))
      DocStore.assignIdsOrdered(withMeta, Seq(col("doc_id"), col("chunk_index")), 10000L)
        .select(col("id"), col("doc_id"),
          col("chunk_index").cast("long").as("chunk_index"),
          col("total_chunks").cast("long").as("total_chunks"),
          col("metadata"), col("chunk"))
        .orderBy("id")
    },
      // single-paragraph fixture text → 1 chunk per doc; ids continue after
      // the seed (10000), ordered by (doc_id, chunk_index) like the
      // reference's sequential insert loop (vectolite.py:521-525).
      oracle = """SELECT 10000 + ROW_NUMBER() OVER (ORDER BY doc_id) AS id, doc_id,
        |  CAST(0 AS BIGINT) AS chunk_index, CAST(1 AS BIGINT) AS total_chunks,
        |  CAST(to_json(struct_pack(source := source, chunk_index := 0, total_chunks := 1)) AS VARCHAR) AS metadata,
        |  trim(text, ' ' || chr(9) || chr(10) || chr(13)) AS chunk
        |FROM documents ORDER BY id""".stripMargin),

    // E7 (round-13): deterministic global shuffle — the reproducible
    // order-randomization pass before sharding a training corpus. The
    // emitted (doc_id, shuffle_key) pairs ARE the permutation; ordering
    // by the md5 key is the one full sort the operation is.
    Declared("shuffle_order", (s, dir) =>
      Splits.globalShuffle(
          docs(s, dir).select(col("doc_id")), "doc_id", salt = "shuffle")
        .select(col("doc_id"), col("shuffle_key")),
      // the permutation is pure md5 arithmetic — any engine reproduces it
      oracle = """SELECT doc_id, md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin),

    // E5 composition (round-14): the LINE-CURATION CHAIN end-to-end —
    // interdoc chrome removal feeds the rule cleaner feeds a doc-level
    // token floor, each stage consuming the previous stage's `cleaned`
    // output (the composition catches column collisions / text-identity
    // drift no per-operator row can). On the planted layout the chain
    // collapses to a closed form the oracle states directly: only the
    // content line survives, so a doc emits iff its ORIGINAL text has
    // >= 5 tokens, with n_tokens equal to that count — any stage keeping
    // chrome, dropping content, or re-joining wrongly breaks the hash.
    Declared("pipeline_line_curation", (s, dir) => {
      val aug = docs(s, dir).select(col("doc_id"), lineAugmented.as("text"))
      // round-15: the chain now serves the hot set from the PERSISTED
      // table (built 60% + appended 40%) instead of recomputing it from
      // the corpus — the nightly form; the unchanged closed-form oracle
      // re-proves served == recomputed.
      val hot = HotLinesIndex.hotLines(s, hotLinesIdx(s, dir), maxDocFreq = 100L)
      val noChrome = TextAnalysis.removeHotLines(aug, "text", hot)
        .select(col("doc_id"), col("cleaned").as("text"))
      val ruled = TextAnalysis.lineClean(noChrome, "text",
          minWords = 5, boilerplateRe = "(?i)subscribe|cookie")
        .select(col("doc_id"), col("cleaned"))
      ruled.select(col("doc_id"),
          TextAnalysis.tokenCount(col("cleaned")).cast("long").as("n_tokens"))
        .filter(col("n_tokens") >= 5)
        .orderBy("doc_id")
    },
      // The chain's closed form on the planted layout (header+footer are
      // interdoc-hot and removed; 'unique N' fails the word floor; the
      // content line survives iff the original text has >= 5 tokens, and
      // the trailing '.' glues to the last token so the count is exactly
      // the original's) — any stage misbehaving breaks the row/hash match.
      oracle = """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ntok
        |  FROM documents)
        |SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens
        |FROM d WHERE ntok >= 5 ORDER BY doc_id""".stripMargin),

    // E7 (round-13): CURRICULUM sampling — quality-tiered deterministic
    // down-sampling (keep all high-quality mass, thin mid, heavily thin
    // low — the quality-mixing step of a corpus recipe). Tier cuts
    // compare the ROUND(quality,6) value both engines agree on (pinned
    // by the quality_score hash row), so boundary docs tier identically;
    // membership is the salted-md5 arithmetic of the other samplers.
    Declared("curriculum_sample", (s, dir) => {
      val tiered = docs(s, dir).select(col("doc_id"),
          round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
        .withColumn("tier",
          when(col("quality") >= 0.8, "high")
            .when(col("quality") >= 0.65, "mid").otherwise("low"))
      Splits.stratifiedSample(tiered, "doc_id", col("tier"),
          Seq("low" -> 0.2, "mid" -> 0.5, "high" -> 1.0), salt = "curr")
        .select(col("doc_id"), col("tier"), col("quality"))
        .orderBy("doc_id")
    },
      // Quality CTEs replayed from quality_score (the hash row proving both
      // engines agree at 6dp — so the >= tier cuts decide identically),
      // then the salted-md5 keep-rate arithmetic of the other samplers.
      oracle = s"""WITH ${qualityCte()},
         |tiered AS (
         |  SELECT doc_id, quality,
         |    CASE WHEN quality >= 0.8 THEN 'high'
         |         WHEN quality >= 0.65 THEN 'mid' ELSE 'low' END AS tier
         |  FROM qs)
         |SELECT doc_id, tier, quality FROM tiered
         |WHERE ('0x' || substr(md5('curr:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
         |      < CAST(FLOOR((CASE tier WHEN 'high' THEN 1.0 WHEN 'mid' THEN 0.5 ELSE 0.2 END) * 10000) AS BIGINT)
         |ORDER BY doc_id""".stripMargin),

    // E5×E7 composition (round-13): tokenize → PACK as one chain — the
    // assembly tail of a corpus build operating on the id sequences
    // themselves: per-doc token counts come from size(token_ids) (no
    // re-tokenize — the filter→pack argument again), packed into
    // 512-token training sequences in id order.
    Declared("pipeline_tokenize_pack", (s, dir) => {
      val d = docs(s, dir)
      val vocab = TextAnalysis.vocabIds(CountTable.counts(d, "text", n = 1))
      val ids = TextAnalysis.tokenizeToIds(
        d.select(col("doc_id"), col("text")), "doc_id", "text", vocab)
      Splits.packSequences(ids, "doc_id", size(col("token_ids")).cast("long"),
          budgetTokens = 512L)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"), col("seq_id"))
        .orderBy("doc_id")
    },
      // |token_ids| == the tokenizer's count, so the pack replays the
      // pack_sequences window formulation over the same ntok.
      oracle = """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ntok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, ntok,
        |    COALESCE(SUM(ntok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |  FROM d)
        |SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
        |  CAST(pre // 512 AS BIGINT) AS seq_id
        |FROM c ORDER BY doc_id""".stripMargin),

    // Training-pipeline split: deterministic md5-bucket train/val/test
    // assignment (80/10/10) — reproducible across runs/engines/corpus
    // revisions, unlike sample()/randomSplit(). Fully oracle-checked:
    // DuckDB replays md5 → hex → bucket → cumulative cuts in SQL.
    Declared("split_assign", (s, dir) =>
      Splits.assignSplit(docs(s, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id"),
      // Deterministic split: both engines md5 the salted decimal id string
      // ('split:<id>' — the salt decorrelates splits from samples), parse
      // the first 8 hex chars as an int, and bucket mod 10000; cuts are
      // 8000/9000 for 80/10/10.
      oracle = """SELECT doc_id,
        |  CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // E7/E2 (round-17): DIVERSITY-capped sampling — at most `cap` docs
    // per semantic cluster of the embedding space, the curation pass
    // that stops the densest regions (template clones, over-crawled
    // topics) from dominating a training mix while sparse clusters keep
    // everything. Designed invariants (cluster assignment is seeded-
    // k-means territory, so the membership stays spec-pinned):
    // exact_counts — every cluster contributes exactly min(size, cap);
    // subset_ok — sampled ids ⊆ corpus, caps never exceeded;
    // deterministic — two runs emit the identical set (salted-md5
    // priority, never an RNG). Constant row → constant oracle.
    Declared("diversity_sample", (s, dir) => {
      val (model, idx) = ivfIndex(s, dir)
      val cap = 20
      val e = embs(s, dir)
      def run(): Set[(Int, Long)] =
        Splits.diversitySample(e, "vec_id", "embedding", model, cap)
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      val sample = run()
      val byCluster = sample.groupBy(_._1).view.mapValues(_.size).toMap
      val clusterSizes = idx.groupBy("cluster").count()
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      val exactCounts = clusterSizes.forall { case (c, n) =>
        byCluster.getOrElse(c, 0) == math.min(n, cap.toLong) } &&
        byCluster.keySet.subsetOf(clusterSizes.keySet)
      val corpusIds = e.select(col("vec_id")).collect().map(_.getLong(0)).toSet
      val subsetOk = byCluster.values.forall(_ <= cap) &&
        sample.forall { case (_, id) => corpusIds(id) }
      val deterministic = sample == run()
      import s.implicits._
      Seq((cap.toLong, if (exactCounts) 1L else 0L,
        if (subsetOk) 1L else 0L, if (deterministic) 1L else 0L))
        .toDF("cap", "exact_counts", "subset_ok", "deterministic")
    },
      // Diversity-capped sample: the four designed invariants are the only
      // acceptable outcome (membership is seeded-k-means territory and
      // stays spec-pinned).
      oracle = """SELECT CAST(20 AS BIGINT) AS cap, CAST(1 AS BIGINT) AS exact_counts,
        |  CAST(1 AS BIGINT) AS subset_ok,
        |  CAST(1 AS BIGINT) AS deterministic""".stripMargin),

    // E4/E7 (round-11 stretch): the WHOLE nightly loop as one declared
    // row — exact-sha → jaccard-vs-postings-index → LSH-vs-embedding-
    // index, the corpus present only through its persisted artifacts.
    // Fully ORACLE-CHECKED since round 12 (the md5-derived LSH planes
    // make the banding engine-portable): DuckDB re-runs all three stages
    // independently and the survivor id set hash-matches. PipelineSpec
    // additionally pins the composition invariants.
    Declared("pipeline_daily_drop", (s, dir) => dailyDropRehearsal(s, dir),
      // The WHOLE nightly loop re-derived independently (round-12): exact
      // text dedup → bigram-jaccard vs corpus → md5-plane LSH banding +
      // exact cosine, within-batch union-find at each near-dup stage. Every
      // stage reuses a construction that is hash-green on its own row
      // (incremental_dedup, incremental_jaccard_dedup, near_dedup_apply_lsh)
      // — composable because round-11 made the LSH planes md5-derivable.
      //
      // PRECONDITION (ADVICE r12): the stage-2 CTEs below (bt/ct/dup2)
      // model UNCAPPED full bigram-shingle sets, while the engine path
      // applies the hot-shingle cap (maxDocFreq = 1000: a bigram appearing
      // in > 1000 corpus docs is dropped from the postings index AND from
      // the batch side, and jaccard denominators use post-cap set sizes —
      // Dedup.buildJaccardIndex/jaccardIncremental). The two agree exactly
      // while no bigram's document frequency exceeds 1000 — true at every
      // shipped fixture sf (the oracle runs at sf0.01: ~3.8k corpus docs,
      // max observed bigram df far below the cap) and asserted green every
      // round by the driver's hash compare, which would surface the first
      // generation where the cap binds as a loud red row, not a silent
      // skew. Replicating the cap in SQL would mean re-deriving df over
      // the corpus slice and recomputing post-cap set sizes in every
      // downstream CTE; documented instead, per the advisor's option (b).
      oracle = s"""WITH RECURSIVE ${lshSigsCte(nTables = 12, nBits = 4)},
         |cut AS (SELECT COUNT(*) * 3 // 4 AS c FROM documents),
         |ecut AS (SELECT COUNT(*) * 3 // 4 AS c FROM embeddings),
         |s1 AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         |    FROM documents WHERE doc_id >= (SELECT c FROM cut))
         |  WHERE rn = 1
         |    AND text NOT IN (SELECT text FROM documents WHERE doc_id < (SELECT c FROM cut))),
         |${bigramSetsCte("bt", "s1")},
         |${bigramSetsCte("ct", "documents WHERE doc_id < (SELECT c FROM cut)")},
         |pr2 AS (
         |  SELECT a_id, b_id FROM (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |      len(list_intersect(a.sh, b.sh)) AS common, len(a.sh) AS asz, len(b.sh) AS bsz
         |    FROM bt a JOIN bt b ON a.doc_id < b.doc_id)
         |  WHERE common > 0 AND CAST(common AS DOUBLE) / (asz + bsz - common) >= 0.2),
         |${componentsCte("2")},
         |surv2a AS (
         |  SELECT doc_id, sh FROM bt
         |  WHERE doc_id NOT IN (SELECT id FROM lab2 WHERE id <> group_id)),
         |dup2 AS (
         |  SELECT DISTINCT s.doc_id
         |  FROM surv2a s JOIN ct c ON len(list_intersect(s.sh, c.sh)) > 0
         |  WHERE CAST(len(list_intersect(s.sh, c.sh)) AS DOUBLE)
         |        / (len(s.sh) + len(c.sh) - len(list_intersect(s.sh, c.sh))) >= 0.2),
         |s2 AS (
         |  SELECT doc_id FROM surv2a WHERE doc_id NOT IN (SELECT doc_id FROM dup2)),
         |b3 AS (
         |  SELECT s2.doc_id AS vec_id FROM s2
         |  JOIN embeddings e ON e.vec_id = s2.doc_id
         |  WHERE s2.doc_id >= (SELECT c FROM ecut)),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM sigs a JOIN sigs b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM b3) AND b.vec_id IN (SELECT vec_id FROM b3)),
         |$pairCosineCte,
         |pr3 AS (SELECT a_id, b_id FROM scored WHERE score > 0.3),
         |${componentsCte("3")},
         |surv3a AS (
         |  SELECT vec_id FROM b3
         |  WHERE vec_id NOT IN (SELECT id FROM lab3 WHERE id <> group_id)),
         |xcand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, s.vec_id AS c_id
         |  FROM surv3a q
         |  JOIN sigs sq ON sq.vec_id = q.vec_id
         |  JOIN sigs s ON s.t = sq.t AND s.bucket = sq.bucket
         |  WHERE s.vec_id < (SELECT c FROM ecut)),
         |xsc AS (
         |  SELECT c.q_id, c.c_id,
         |    SUM(CAST(eq.embedding[r.i] AS DOUBLE) * CAST(ec.embedding[r.i] AS DOUBLE)) AS dot,
         |    SQRT(SUM(CAST(eq.embedding[r.i] AS DOUBLE) * CAST(eq.embedding[r.i] AS DOUBLE))) AS na,
         |    SQRT(SUM(CAST(ec.embedding[r.i] AS DOUBLE) * CAST(ec.embedding[r.i] AS DOUBLE))) AS nb
         |  FROM xcand c
         |  JOIN embeddings eq ON eq.vec_id = c.q_id
         |  JOIN embeddings ec ON ec.vec_id = c.c_id
         |  CROSS JOIN range(1, 65) r(i)
         |  GROUP BY c.q_id, c.c_id),
         |xdup AS (
         |  SELECT DISTINCT q_id FROM xsc
         |  WHERE (CASE WHEN na * nb = 0 THEN 0.0 ELSE dot / (na * nb) END) > 0.3)
         |SELECT vec_id AS doc_id FROM surv3a
         |WHERE vec_id NOT IN (SELECT q_id FROM xdup)
         |ORDER BY doc_id""".stripMargin),

    // E7: deterministic mixture sampling — down-sample each source toward
    // a 2000-token budget via per-source keep-rates + salted hash
    // selection (the data-mixing step; no per-group windows, so no
    // single-task-per-source skew).
    Declared("mix_sample", (s, dir) => {
      val d = docs(s, dir)
      Splits.sampleToTokenBudget(d, "doc_id", "source",
          TextAnalysis.tokenCount(col("text")), budgetPerGroup = 2000L)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },
      // Mixture sampling: per-source keep-rate from token totals, salted
      // md5 bucket under FLOOR(rate*10000) — floor, not round, because
      // round-half rules differ across engines.
      oracle = """WITH d AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT source, LEAST(1.0, 2000.0 / CAST(SUM(n_tokens) AS DOUBLE)) AS rate
        |  FROM d GROUP BY source)
        |SELECT d.doc_id, d.source, CAST(d.n_tokens AS BIGINT) AS n_tokens
        |FROM d JOIN r USING (source)
        |WHERE ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
        |      < CAST(FLOOR(rate * 10000) AS BIGINT)
        |ORDER BY d.doc_id""".stripMargin),

    // E7: sequence packing — assign docs (in id order) to fixed
    // 512-token training sequences: seq_id = floor(exclusive running
    // token sum / budget). Implemented with per-partition offsets, NOT a
    // global SUM-OVER window (the assignIdsOrdered shape), so packing a
    // 100 TB corpus never funnels through one task; the oracle replays
    // the window formulation, which is equivalent and fine at 500 rows.
    Declared("pack_sequences", (s, dir) =>
      Splits.packSequences(
          docs(s, dir).select(col("doc_id"), col("text")), "doc_id",
          TextAnalysis.tokenCount(col("text")), budgetTokens = 512L)
        .select(col("doc_id"), col("seq_id"))
        .orderBy("doc_id"),
      // Sequence packing: exclusive running token sum over doc order //
      // budget — the window formulation the distributed implementation
      // avoids but equals.
      oracle = """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ntok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    COALESCE(SUM(ntok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |  FROM d)
        |SELECT doc_id, CAST(pre // 512 AS BIGINT) AS seq_id
        |FROM c ORDER BY doc_id""".stripMargin),

    // E7 composition: filter-audit → mixture-sample as ONE chain — the
    // curation half of a corpus build (quality gate first, THEN mix to
    // budget over the surviving token mass; rates computed after the
    // filter, which is the ordering a real recipe needs). Composing the
    // two new operators catches interface drift the per-operator rows
    // cannot, the same argument as pipeline_hygiene.
    Declared("pipeline_filter_mix", (s, dir) => {
      // filter + token count via the FUSED metrics pass (one tokenize per
      // row; field-equal to the Column forms by spec + the
      // text_metrics_fused oracle row)
      val m = docs(s, dir)
        .select(col("doc_id"), col("source"), TextAnalysis.metrics(col("text")).as("m"))
        .select(col("doc_id"), col("source"),
          col("m.n_tokens").as("n_tokens"), col("m.reasons").as("reasons"))
      val kept = m.filter(col("reasons") === "")
      Splits.sampleToTokenBudget(kept, "doc_id", "source",
          col("n_tokens"), budgetPerGroup = 1500L)
        .select(col("doc_id"), col("source"), col("n_tokens"))
        .orderBy("doc_id")
    },
      // Filter → mix composition: the quality_filter CTE keeps reasons='',
      // then the mix_sample CTE recomputes per-source rates over the KEPT
      // token mass only (filter-then-mix ordering).
      oracle = s"""WITH ${qualityCte()},
         |kept AS (
         |  SELECT q.doc_id, d.source, q.ntok
         |  FROM qs q JOIN documents d USING (doc_id) WHERE $qualityKept),
         |r AS (
         |  SELECT source, LEAST(1.0, 1500.0 / CAST(SUM(ntok) AS DOUBLE)) AS rate
         |  FROM kept GROUP BY source)
         |SELECT k.doc_id, k.source, CAST(k.ntok AS BIGINT) AS n_tokens
         |FROM kept k JOIN r USING (source)
         |WHERE ('0x' || substr(md5('mix:' || CAST(k.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
         |      < CAST(FLOOR(rate * 10000) AS BIGINT)
         |ORDER BY k.doc_id""".stripMargin),

    // E7 composition: filter-audit → sequence PACKING as one chain — the
    // assembly half of a corpus build (quality gate, then pack survivors
    // in id order into 512-token sequences). The pack REUSES the fused
    // metrics' n_tokens (round-9 precomputed-token path): one tokenize
    // per row feeds filter AND pack, instead of packSequences
    // re-tokenizing the kept corpus — at 100 TB the re-tokenize is the
    // dominant pack cost (SCALE.md).
    Declared("pipeline_filter_pack", (s, dir) => {
      val kept = docs(s, dir)
        .select(col("doc_id"), TextAnalysis.metrics(col("text")).as("m"))
        .select(col("doc_id"), col("m.n_tokens").cast("long").as("n_tokens"),
          col("m.reasons").as("reasons"))
        .filter(col("reasons") === "").drop("reasons")
      Splits.packSequences(kept, "doc_id", col("n_tokens"), budgetTokens = 512L)
        .select(col("doc_id"), col("n_tokens"), col("seq_id"))
        .orderBy("doc_id")
    },
      // Filter → pack composition: the quality_filter CTE keeps reasons='',
      // then the pack CTE runs the exclusive-running-sum window over the
      // KEPT rows only (filter-then-pack ordering; window formulation =
      // the distributed per-partition-offset implementation).
      oracle = s"""WITH ${qualityCte()},
         |kept AS (SELECT doc_id, ntok FROM qs WHERE $qualityKept),
         |c AS (
         |  SELECT doc_id, ntok,
         |    COALESCE(SUM(ntok) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
         |  FROM kept)
         |SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
         |  CAST(pre // 512 AS BIGINT) AS seq_id
         |FROM c ORDER BY doc_id""".stripMargin),

    // multimodal: fake decode → feature vectors. Hash-checked since
    // round 12: the digest covers the decoder's INTEGER bucket
    // accumulation (Multimodal.fakeDecodeAccum), whose stride hash has a
    // closed form (h = C·31^k + Σ bⱼ·31^(k−1−j) mod 2^64) the DuckDB
    // oracle re-derives with HUGEINT arithmetic — Long wraparound,
    // signed bytes, and Java % semantics reproduced exactly. The float
    // half (L2 normalize) stays covered by the hash-checked
    // `multimodal_invariants` twin below, and MultimodalSpec pins
    // accumulate→normalize == featurize.
    Declared("multimodal_features", (s, dir) =>
      Multimodal.fakeAssets(docs(s, dir).filter(col("doc_id") < 50), "text")
        .withColumn("accum", Multimodal.decodeAccumCol(col("asset_bytes"), 32))
        .select(col("doc_id"),
          md5(to_json(col("accum"))).as("feat_digest"))
        .orderBy("doc_id"),
      // The fake decoder's integer accumulation re-derived from scratch
      // (round-12): per 8-byte stride the Java rolling hash
      // h = h*31 + signed_byte (Long wraparound) has the closed form
      // C·31^k + Σ bⱼ·31^(k−1−j), evaluated in HUGEINT and reduced mod
      // 2^64; the signed reinterpretation + Java truncated-% pick the
      // bucket, the low bit picks ±1. Exact 31-powers come from a literal
      // list (DuckDB's ** returns DOUBLE and rounds at these magnitudes).
      // The digest string matches Spark's to_json(array<int>) compact form.
      oracle = """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
        |  FROM documents WHERE doc_id < 50),
        |strides AS (
        |  SELECT doc_id, hx, n, s.s AS s, LEAST(8, n - s.s) AS k
        |  FROM b, LATERAL (SELECT UNNEST(range(0, n, 8)) AS s) s),
        |hashes AS (
        |  SELECT doc_id, s,
        |    ((h_raw % 18446744073709551616::HUGEINT) + 18446744073709551616::HUGEINT)
        |      % 18446744073709551616::HUGEINT AS h
        |  FROM (
        |    SELECT st.doc_id, st.s,
        |      1125899906842597::HUGEINT
        |        * list_value(1::HUGEINT,31,961,29791,923521,28629151,887503681,27512614111,852891037441)[st.k + 1]
        |      + COALESCE(SUM(
        |          (CASE WHEN bv > 127 THEN bv - 256 ELSE bv END)::HUGEINT
        |          * list_value(1::HUGEINT,31,961,29791,923521,28629151,887503681,27512614111,852891037441)[st.k - j.j]), 0) AS h_raw
        |    FROM strides st, LATERAL (
        |      SELECT UNNEST(range(st.k)) AS j,
        |        ('0x' || substr(st.hx, 2 * (st.s + UNNEST(range(st.k))) + 1, 2))::INT AS bv) j
        |    GROUP BY st.doc_id, st.s, st.k)),
        |contrib AS (
        |  SELECT doc_id,
        |    (((CASE WHEN h >= 9223372036854775808::HUGEINT
        |        THEN h - 18446744073709551616::HUGEINT ELSE h END) % 32) + 32) % 32 AS idx,
        |    CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END AS c
        |  FROM hashes),
        |accum AS (
        |  SELECT b.doc_id, g.i AS i, COALESCE(SUM(c.c), 0)::BIGINT AS v
        |  FROM b CROSS JOIN (SELECT UNNEST(range(32)) AS i) g
        |  LEFT JOIN contrib c ON c.doc_id = b.doc_id AND c.idx = g.i
        |  GROUP BY b.doc_id, g.i)
        |SELECT doc_id,
        |  md5('[' || string_agg(v, ',' ORDER BY i) || ']') AS feat_digest
        |FROM accum GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Hash-checked invariants of the multimodal featurizer, mirroring the
    // embed_hash pattern: the fake decoder always emits dim-length
    // vectors, and L2-normalizes any non-zero accumulation — each 8-byte
    // stride contributes exactly ±1 to one bucket, so non-empty bytes
    // yield a non-zero vector unless every bucket's ±1 contributions
    // cancel exactly (verified impossible on the fixtures: every text is
    // non-empty and no doc cancels). Both columns are DuckDB-derivable
    // from the text alone, which upgrades the multimodal pipeline from
    // rows-only to a real oracle row. The 1e-3 tolerance is far above
    // float32 normalization error (~5e-7).
    Declared("multimodal_invariants", (s, dir) =>
      Multimodal.featurize(docs(s, dir).filter(col("doc_id") < 50), "text", 32)
        .select(col("doc_id"),
          size(col("features")).cast("long").as("n_features"),
          when(abs(l2_norm(col("features")) - 1.0d) < 0.001d, 1L)
            .otherwise(0L).as("unit_norm"))
        .orderBy("doc_id"),
      // Multimodal featurizer invariants, engine-independent: the (fake)
      // decoder always emits dim=32 features, and L2-normalizes to unit norm
      // exactly when the payload (UTF-8 text bytes) is non-empty — each
      // 8-byte stride deposits ±1 into one bucket, and the fixtures contain
      // no all-cancelling doc (asserted by the Spark side's norm check).
      oracle = """SELECT doc_id, CAST(32 AS BIGINT) AS n_features,
        |  CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 0 ELSE 1 END AS BIGINT) AS unit_norm
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin),
  )
}
