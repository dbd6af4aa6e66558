package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.LocalSession
import graft.operators._

/** Scale rehearsal: amplifies the fixtures ~Nx (deterministic copies with
  * perturbed embeddings / re-keyed ids) and runs the operators whose
  * 100 TB story matters most, printing row counts and wall-clock. This is
  * the local stand-in for "would this survive 100x the data" — the plan
  * SHAPES are already pinned in PLANS.md; this checks the constants.
  *
  * Usage: runMain graft.ScaleProbe [sfDir] [amplification] [section ...]
  *
  * With no section names every section runs, in [[Sections]] order.
  */
object ScaleProbe {

  /** The probe's sections in run order, each named for the round SCALE.md
    * files its rows under. `ops` is the round-7 operator sweep; `simhash`
    * is its one output-volume-bound row (on a duplicated corpus), split
    * out so very large amplifications can leave it out.
    */
  val Sections: Seq[String] = Seq("ops", "simhash", "r8", "r9", "r11", "r12",
    "r13", "r13b", "r14c", "r14", "r14b", "r13d", "r13c", "r15", "r15c",
    "r17", "r17b", "r18", "r19", "r19b")

  /** The sections `names` selects: every section when `names` is empty.
    * An unknown name is refused with the list of valid ones.
    */
  def selectSections(names: Seq[String]): Set[String] = {
    val unknown = names.filterNot(Sections.contains)
    require(unknown.isEmpty, s"unknown ScaleProbe section(s): ${unknown.mkString(", ")}; " +
      s"valid sections: ${Sections.mkString(" ")}")
    if (names.isEmpty) Sections.toSet else names.toSet
  }

  /** Seq/par canary pair around long-run rehearsals (round-19; VERDICT
    * r18 "wrong" #2: ScaleProbe long-runs carried no canary, so an
    * out-of-band wave time — r18's 49 s wave 2 — could not be
    * adjudicated against the drift rule). Same fixed-work loops and ref
    * constants as Bench's artifact fields. Like Bench, the par canary
    * runs one thread per available core: more threads than cores would
    * time oversubscription, not box load. Its ref holds only when the
    * thread count matches the ref's, so the label names both.
    */
  private def canaryPair(tag: String): Unit = {
    val threads = Runtime.getRuntime.availableProcessors()
    // refs interpolate Bench's constants: a re-measure there can
    // never leave these lines printing stale ones
    println(f"[scale] canary $tag: seq ${Bench.canarySeconds()}%.3f s " +
      f"(ref ${Bench.CanaryRefSec})  " +
      f"par$threads ${Bench.canaryParSeconds(threads)}%.3f s " +
      f"(ref ${Bench.CanaryParRefSec} at par${Bench.CanaryParRefThreads})")
  }

  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[scale] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  /** [[timed]] plus the summed task input bytes, through Bench's
    * settle-until-stable listener (ADVICE r19: a fixed settle sleep
    * silently undercounted on a loaded box).
    */
  private def measured[T](spark: SparkSession, name: String)(f: => T): T = {
    val (r, s, b) = Bench.measuredWithBytes(spark)(f)
    println(f"[scale] $name%-58s $s%8.2f s  bytesRead $b%,d")
    r
  }

  /** On-disk bytes of the data files under `path`: every file and
    * directory except the ones Spark's file listing hides (names starting
    * with `_` or `.`: checksums, commit markers, `_meta` sidecars).
    */
  private def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L
      else if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    Option(new java.io.File(path.stripPrefix("file:")).listFiles())
      .map(_.map(walk).sum).getOrElse(0L)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val amp = if (args.length > 1) args(1).toInt else 50
    require(amp >= 1, s"amplification must be >= 1, got $amp")
    val selected = selectSections(args.drop(2).toSeq)
    def section(name: String)(body: => Unit): Unit = {
      require(Sections.contains(name), s"section $name is not in ScaleProbe.Sections")
      if (selected(name)) body
    }
    val spark = LocalSession.builder(LocalSession.harnessCpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // ---- amplified corpora (deterministic) ---------------------------
    val copies = explode(sequence(lit(0), lit(amp - 1))).as("copy")
    val baseEmb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val baseDocs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nBase = baseEmb.count()

    // per-copy deterministic perturbation so copies are near but not
    // identical (pure column ops — xxhash64-seeded pseudo-noise)
    val emb = baseEmb.select(col("vec_id"), col("embedding"), copies)
      .select(
        (col("vec_id") + col("copy") * nBase).as("vec_id"),
        transform(col("embedding"),
          (x, i) => (x + (pmod(xxhash64(col("vec_id"), col("copy"), i), lit(1000L)).cast("float")
            - 500f) / 50000f).cast("float")).as("embedding"))
      .cache()
    val nBaseDocs = baseDocs.count()
    val docs = baseDocs.select(col("doc_id"), col("text"), copies)
      .select((col("doc_id") + col("copy") * nBaseDocs).as("doc_id"),
        concat(col("text"), lit(" tail"), col("copy")).as("text"))
      .cache()
    val nEmb = timed(s"amplify embeddings x$amp")(emb.count())
    val nDocs = timed(s"amplify documents x$amp")(docs.count())
    println(s"[scale] corpus: $nEmb vectors, $nDocs docs")

    val q = baseEmb.filter(col("vec_id") === 0).select("embedding").head.getSeq[Float](0).toArray

    // ---- the operators whose constants matter at scale ---------------
    section("ops") {
    timed("topk exact (full scan)") {
      Similarity.topK(emb, "embedding", "vec_id", q, 10).collect()
    }
    timed("sim_join 100q x corpus") {
      SimJoin.topKPerQuery(
        emb.filter(col("vec_id") < 100).select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
        emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb")), 5).count()
    }
    timed("sim_join 500q x corpus") {
      SimJoin.topKPerQuery(
        emb.filter(col("vec_id") < 500).select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
        emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb")), 5).count()
    }
    val cfg = AnnIndex.Config(dim = 64, nBits = 12, nTables = 8)
    val index = timed("ann index build") {
      val i = AnnIndex.buildIndex(emb, "vec_id", "embedding", cfg).cache()
      i.count(); i
    }
    timed("ann probe top-10")(AnnIndex.queryTopK(index, q, 10, cfg).collect())
    // Persisted-index build/serve split at scale: write the index with the
    // SERVING config of the declared ann_topk query (16 tables × 2^6
    // buckets = 1024 partition dirs), then probe through read.parquet so
    // the 16 (table,bucket) literals prune partitions at the scan — the
    // shape whose constants must hold as the corpus grows.
    val serveCfg = AnnIndex.Config(dim = 64, nBits = 6, nTables = 16)
    // SessionCache temp dirs are deleted on JVM exit — repeated probe
    // runs must not accumulate 1024-dir indexes in /tmp
    val idxDir = graft.core.SessionCache.newTempDir("graft-scale-lsh")
    timed("ann persisted index write") {
      AnnIndex.writeIndex(AnnIndex.buildIndex(emb, "vec_id", "embedding", serveCfg), idxDir, serveCfg)
    }
    val persisted = spark.read.parquet(idxDir)
    timed("ann persisted probe top-10") {
      AnnIndex.queryTopK(persisted, q, 10, serveCfg).collect()
    }
    timed("ann persisted probe (2nd, warm file index)") {
      AnnIndex.queryTopK(persisted, q, 10, serveCfg).collect()
    }
    timed("assignIdsOrdered ingest (docs)") {
      graft.store.DocStore.assignIdsOrdered(docs, Seq(col("doc_id")), 0L).count()
    }
    }
    // ---- jaccard hot-shingle corpus (shared with the round-8 group
    // probe): every doc gets the same injected 2-token prefix, so the
    // shingles "zz hotzz" / "hotzz commonzz" occur in EVERY doc.
    val hotDocs = docs.withColumn("text",
      concat(lit("zz hotzz commonzz "), col("text")))

    section("ops") {
    // Stateful sessionizer through a REAL AvailableNow stream: amp×20k
    // synthetic events over 10k users (5-min waves, an hour jump every 12
    // waves → sessions genuinely close), written to parquet and replayed
    // as a file-source stream into flatMapGroupsWithState.
    timed(s"stateful sessionize stream (${amp * 20000} ev)") {
      import spark.implicits._
      val evDir = graft.core.SessionCache.newTempDir("graft-scale-ev")
      val wave = (col("id") / 10000).cast("long")
      spark.range(amp.toLong * 20000L).select(
        pmod(col("id"), lit(10000L)).as("user_id"),
        timestamp_micros(lit(1700000000000000L) + wave * 300000000L +
          (wave / 12).cast("long") * 3600000000L +
          pmod(col("id"), lit(10000L))).as("ts"))
        .write.mode("overwrite").parquet(evDir)
      val sevs = spark.readStream.schema("user_id LONG, ts TIMESTAMP")
        .parquet(evDir).as[graft.streaming.Streams.Ev]
      val sq = graft.streaming.Streams.toMemorySink(
        graft.streaming.Streams.sessionizeStateful(sevs, gapMinutes = 30).toDF(),
        "scale_sessionize", "append").start()
      require(sq.awaitTermination(600000), "stream did not finish in 600s")
      val n = spark.table("scale_sessionize").count()
      println(s"[scale]   -> $n closed sessions")
    }
    timed("exact dedup (sha groupBy)") {
      Dedup.dedupExact(docs, "doc_id", "text").count()
    }
    }
    // output-volume-bound on a duplicated corpus (see SCALE.md) — leave
    // the section out when probing very large amplifications
    section("simhash") {
      timed("simhash pairs r<=3") {
        Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3).count()
      }
    }
    section("ops") {
    // ---- jaccard hot-shingle probe: uncapped, the two universal
    // shingles' posting lists alone form ~|docs|² pairs; with the default
    // maxDocFreq cap they are dropped before the pair join and the volume
    // collapses to genuinely-similar pairs. The 2k slice is copy-0 docs
    // only (distinct base texts), so the uncapped/capped delta is pure
    // hot-shingle fan-out.
    timed("jaccard 2k docs UNCAPPED hot") {
      val n = Dedup.jaccardPairs(hotDocs.filter(col("doc_id") < 2000),
        "doc_id", "text", n = 2, threshold = 0.9,
        maxDocFreq = Long.MaxValue).count()
      println(s"[scale]   -> $n pairs survive; the hot posting list forms ~2M candidate pairs first")
    }
    timed("jaccard 2k docs capped (default)") {
      val n = Dedup.jaccardPairs(hotDocs.filter(col("doc_id") < 2000),
        "doc_id", "text", n = 2, threshold = 0.9).count()
      println(s"[scale]   -> $n pairs; hot shingles dropped before the join")
    }
    timed("jaccard 20k docs capped (default)") {
      val n = Dedup.jaccardPairs(hotDocs.filter(col("doc_id") < 20000),
        "doc_id", "text", n = 2, threshold = 0.9).count()
      println(s"[scale]   -> $n pairs (near-dup copies across amplification)")
    }
    // ---- hot-key window probe: 1M events on ONE user — the documented
    // single-task-per-key contract of sessionize/asofJoin. Linear in the
    // key's rows (sort + O(1)-per-row carry), so it completes in seconds
    // even though no parallelism applies inside the key.
    timed("sessionize hot key (1 user x 1M)") {
      // 2-min steps with an extra hour-jump every 100 events → ~10k
      // sessions on one key; strictly monotonic timestamps.
      val ev = spark.range(1000000L).select(
        lit(7L).as("user_id"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 120000000L +
          (col("id") / 100).cast("long") * 3600000000L).as("ts"))
      graft.streaming.Streams.sessionize(ev, gapMinutes = 30).count()
    }
    timed("decontaminate corpus vs 10-probe eval set") {
      Dedup.contaminationPairs(docs, baseDocs.filter(col("doc_id") < 10),
        "doc_id", "text", "doc_id", "text", n = 2, minOverlap = 3).count()
    }
    }
    // ---- round-8 additions ------------------------------------------
    // pairs → groups at volume: the amplified corpus's capped-jaccard
    // pair set (copies of the same base doc are mutual near-dups, so
    // components are real and amp-sized) through the iterative min-label
    // propagation. Probes both the per-round shuffle cost and the
    // convergence round count at a non-toy component structure.
    section("r8") {
    timed("near_dup_groups DISTRIBUTED (20k-doc pair set)") {
      val pairs = Dedup.jaccardPairs(hotDocs.filter(col("doc_id") < 20000),
        "doc_id", "text", n = 2, threshold = 0.9)
      // force the iterative loop — the path that must hold at pair
      // volumes beyond the driver fast-path cap
      val g = Dedup.nearDupGroups(pairs, "a_id", "b_id", 25, 0L)
      println(s"[scale]   -> ${g.count()} labeled nodes, " +
        s"${g.filter(col("id") === col("group_id")).count()} groups")
    }
    timed("near_dup_groups default (driver fast path if under cap)") {
      val pairs = Dedup.jaccardPairs(hotDocs.filter(col("doc_id") < 20000),
        "doc_id", "text", n = 2, threshold = 0.9)
      println(s"[scale]   -> ${Dedup.nearDupGroups(pairs).count()} labeled nodes")
    }
    // incremental ingest dedup: last 10% of the corpus arrives as the
    // daily batch; the remaining 90% participates only as its sha index.
    timed("incremental dedup (10% batch vs 90% corpus hash index)") {
      val cut = nDocs * 9 / 10
      val n = Dedup.dedupIncremental(
        docs.filter(col("doc_id") >= cut), "doc_id", "text",
        Dedup.contentHashes(docs.filter(col("doc_id") < cut), "text")).count()
      println(s"[scale]   -> $n batch rows survive")
    }
    timed("mix sample to token budget (full corpus)") {
      Splits.sampleToTokenBudget(
        docs.withColumn("source", pmod(col("doc_id"), lit(5L)).cast("string")),
        "doc_id", "source", TextAnalysis.tokenCount(col("text")), 100000L)
        .agg(count(lit(1))).collect()
    }
    // NOTE (round-8 fix, applies to the three scans below): aggregate OVER
    // the computed columns — `agg(count(lit(1)))` lets ColumnPruning
    // delete the expressions entirely, so earlier rounds' numbers for
    // these rows timed a bare scan, not the operator.
    timed("repetition + filter-audit scan") {
      docs.select(TextAnalysis.dupNgramFrac(col("text"), 2).as("g"),
        length(TextAnalysis.filterReasons(col("text"))).as("rl"))
        .agg(sum(col("g")), sum(col("rl"))).collect()
    }
    // the fused single-pass struct vs the composed Column forms above —
    // the measured justification for metrics() as the bulk path
    timed("fused metrics scan (all metrics, 1 pass)") {
      docs.select(TextAnalysis.metrics(col("text")).as("m"))
        .agg(sum(col("m.dup_2gram_frac")), sum(length(col("m.reasons")))).collect()
    }
    timed("pack sequences (full corpus, 2048-token budget)") {
      Splits.packSequences(docs, "doc_id",
        TextAnalysis.tokenCount(col("text")), 2048L)
        .agg(max(col("seq_id"))).collect()
    }
    // round-9: the precomputed-token path — the pipeline already computed
    // n_tokens for its quality filter (fused metrics), so the pack reads a
    // long column instead of re-tokenizing. Materialized OUTSIDE the timed
    // block: the measurement is "pack given the column exists", the real
    // pipeline_filter_pack shape.
    locally {
      val withTok = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .localCheckpoint()
      try timed("pack sequences (precomputed tokens)") {
        Splits.packSequences(withTok, "doc_id", col("n_tokens"), 2048L)
          .agg(max(col("seq_id"))).collect()
      } finally graft.operators.Dedup.releaseCheckpointBlocks(withTok)
    }
    timed("split assign (full corpus)") {
      Splits.assignSplit(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split").count().collect()
    }
    timed("fingerprint + quality scan") {
      docs.select(TextAnalysis.fingerprint(col("text"), 8).as("fp"),
        TextAnalysis.qualityScore(col("text")).as("q"))
        .agg(max(col("fp")), sum(col("q"))).collect()
    }
    timed("embed batch (hashing)") {
      HashingEmbedder(64).embed(docs, "text", "e")
        .agg(sum(size(col("e")))).collect()
    }
    // codegen Expression vs ScalaUDF on the identical scoring pass — the
    // measured justification for the custom Expression (SURVEY §4.3).
    import graft.functions.VectorFunctions
    timed("score pass (codegen expr)") {
      emb.select(sum(VectorFunctions.cosine_sim(col("embedding"), typedlit(q.toSeq)))).collect()
    }
    timed("score pass (scala udf)") {
      emb.select(sum(VectorFunctions.cosine_udf(col("embedding"), typedlit(q.toSeq)))).collect()
    }
    }
    // ---- round-9: index maintenance -----------------------------------
    // append a 1% daily batch into the persisted LSH index vs rebuilding
    // from scratch — the number that justifies appendToIndex at 100 TB
    // (before round 9, ANY new data meant a full rebuild).
    section("r9") {
      val cfg = AnnIndex.Config(dim = 64, nBits = 6, nTables = 8)
      val cut = nEmb * 99 / 100
      val path = java.nio.file.Files.createTempDirectory("graft-scale-append").toString
      timed("lsh index build+write (99% corpus)") {
        AnnIndex.writeIndex(
          AnnIndex.buildIndex(emb.filter(col("vec_id") < cut), "vec_id", "embedding", cfg), path, cfg)
      }
      // the daily-drop near-dedup loop (round-9): a 1k-row drop dedups
      // within itself, then drops exact-verified near-dups against the
      // PERSISTED index — the corpus participates only through its index
      // files, pruned to the drop's touched buckets. Candidate volume is
      // the bucket fraction (nTables/2^nBits of the corpus per row), so
      // cost scales with |drop| × bucket size, never |corpus|².
      timed("incremental NEAR-dedup 1k-row drop vs index") {
        val n = AnnIndex.dedupIncrementalLSH(
          emb.filter(col("vec_id") >= (nEmb - 1000).toLong), "vec_id", "embedding",
          spark.read.parquet(path), threshold = 0.3, cfg).count()
        println(s"[scale]   -> $n drop rows survive")
      }
      timed("lsh index APPEND 1% batch") {
        AnnIndex.appendToIndex(
          emb.filter(col("vec_id") >= cut), path, "vec_id", "embedding", cfg)
      }
      timed("probe appended index (top-10)") {
        AnnIndex.queryTopK(spark.read.parquet(path), q, 10, cfg).collect()
      }
      // batch probe at query volume through the SAME index — the scale
      // answer to the 500-query exact sim-join (390 s at 1M vectors,
      // r7 table): candidates come from bucket collisions, not a full
      // scan, so cost follows Σ touched-bucket sizes.
      timed("BATCH probe 500 q × index (top-5)") {
        AnnIndex.queryTopKBatch(spark.read.parquet(path),
          emb.filter(col("vec_id") < 500), "vec_id", "embedding", 5, cfg).count()
      }
      timed("compact appended index") {
        AnnIndex.compactIndex(spark, path)
      }
      timed("probe compacted index (top-10)") {
        AnnIndex.queryTopK(spark.read.parquet(path), q, 10, cfg).collect()
      }
    }
    // ---- round-11: IVF batch probe at query volume + postings lifecycle
    section("r11") {
      // IVF serving twin of the LSH "BATCH probe 500 q" row: fit + build
      // are the offline step; the timed row is the 500-query batch probe
      // through the persisted index — the number the ivf_batch_topk
      // parity row no longer provides (it became a cached constant).
      val ivfPath = graft.core.SessionCache.newTempDir("graft-scale-ivf")
      val model = timed("ivf fit (full corpus)") {
        IvfIndex.fit(emb, "embedding")
      }
      timed("ivf index build+write") {
        IvfIndex.writeIndex(IvfIndex.buildIndex(emb, "vec_id", "embedding", model), ivfPath)
      }
      val nProbe = IvfIndex.defaultNProbe(model.centroids.length)
      val ivfIdx = spark.read.parquet(ivfPath)
      timed(s"IVF BATCH probe 500 q (top-5, nProbe=$nProbe)") {
        IvfIndex.queryTopKBatch(ivfIdx, model,
          emb.filter(col("vec_id") < 500), "vec_id", "embedding", 5, nProbe).count()
      }
    }
    section("r11") {
      // Shingle-postings lifecycle (round-11): the jaccard index's
      // append-vs-rebuild split — build on 99%, append the 1% daily drop
      // (linear in the batch), compact (global re-cap + rewrite), vs the
      // full rebuild a pre-round-11 pipeline paid per drop.
      val cut = nDocs * 99 / 100
      val pPath = graft.core.SessionCache.newTempDir("graft-scale-postings")
      timed("postings build+write (99% corpus)") {
        Dedup.buildPostingsIndex(docs.filter(col("doc_id") < cut), "doc_id", "text",
          n = 2, pPath)
      }
      // probe BEFORE append (the daily order: drop near-dups vs the
      // corpus index, then append the survivors' postings)
      timed("postings incremental dedup (1% drop vs index)") {
        val n = Dedup.jaccardIncremental(docs.filter(col("doc_id") >= cut),
          "doc_id", "text", n = 2, threshold = 0.5,
          Dedup.readPostingsIndex(spark, pPath)).count()
        println(s"[scale]   -> $n batch rows survive")
      }
      timed("postings APPEND 1% batch") {
        Dedup.appendPostingsIndex(docs.filter(col("doc_id") >= cut), "doc_id", "text",
          n = 2, pPath)
      }
      timed("postings COMPACT (global re-cap)") {
        Dedup.compactPostingsIndex(spark, pPath)
      }
      timed("postings full REBUILD (the avoided cost)") {
        Dedup.buildPostingsIndex(docs, "doc_id", "text", n = 2,
          graft.core.SessionCache.newTempDir("graft-scale-postings-rebuild"))
      }
    }
    // ---- round-12: the COMPLETE nightly loop vs persisted artifacts ---
    // The pipeline_daily_drop composition at deployment shape: a 1% daily
    // drop runs exact-sha → jaccard-vs-postings → LSH-vs-index against a
    // 99% corpus present ONLY through its three persisted artifacts
    // (content-hash set, shingle-postings index, LSH index). The timed
    // row is the composed CHAIN — one evaluation per stage thanks to the
    // round-12 batch-frame pins; the artifact builds are the offline
    // step a deployment amortizes across drops via the append/compact
    // lifecycles measured above. The shared amplified tables are NOT
    // id-aligned (fixture generations ship different doc/embedding
    // counts), so this section amplifies its OWN aligned pair from the
    // joined base — every amplified doc has exactly one embedding.
    section("r12") {
      val base = baseDocs.join(baseEmb, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("text"), col("embedding"))
      val nBaseA = base.count()
      val aligned = base.select(col("doc_id"), col("text"), col("embedding"), copies)
        .select((col("doc_id") + col("copy") * nBaseA).as("id"),
          concat(col("text"), lit(" tail"), col("copy")).as("text"),
          transform(col("embedding"),
            (x, i) => (x + (pmod(xxhash64(col("doc_id"), col("copy"), i), lit(1000L)).cast("float")
              - 500f) / 50000f).cast("float")).as("embedding"))
        .cache()
      val nAll = timed(s"daily-drop: amplify aligned corpus x$amp")(aligned.count())
      println(s"[scale] aligned corpus: $nAll (doc, embedding) rows")
      val docsA = aligned.select(col("id").as("doc_id"), col("text"))
      val embA = aligned.select(col("id").as("vec_id"), col("embedding"))
      val cutD = nAll * 99 / 100
      val corpusD = docsA.filter(col("doc_id") < cutD)
      val batchD = docsA.filter(col("doc_id") >= cutD)
      val hashPath = graft.core.SessionCache.newTempDir("graft-scale-dd-hashes") + "/h"
      val postPath = graft.core.SessionCache.newTempDir("graft-scale-dd-postings")
      val lshPath = graft.core.SessionCache.newTempDir("graft-scale-dd-lsh")
      val ddCfg = AnnIndex.Config(dim = 64, nBits = 4, nTables = 12)
      timed("daily-drop OFFLINE: content-hash index (99%)") {
        Dedup.contentHashes(corpusD, "text").write.parquet(hashPath)
      }
      timed("daily-drop OFFLINE: postings index (99%)") {
        Dedup.buildPostingsIndex(corpusD, "doc_id", "text", n = 2, postPath)
      }
      timed("daily-drop OFFLINE: LSH index (99%)") {
        AnnIndex.writeIndex(AnnIndex.buildIndex(
          embA.filter(col("vec_id") < cutD), "vec_id", "embedding", ddCfg), lshPath, ddCfg)
      }
      timed("daily-drop CHAIN: 1% drop through all three stages") {
        val s1 = Dedup.dedupIncremental(batchD, "doc_id", "text",
          spark.read.parquet(hashPath))
        val s2 = Dedup.jaccardIncremental(s1, "doc_id", "text", n = 2,
          threshold = 0.5, Dedup.readPostingsIndex(spark, postPath))
        val n = AnnIndex.dedupIncrementalLSH(
          s2.join(embA.filter(col("vec_id") >= cutD), col("doc_id") === col("vec_id"))
            .select(col("doc_id"), col("embedding")),
          "doc_id", "embedding", spark.read.parquet(lshPath),
          threshold = 0.3, ddCfg).count()
        println(s"[scale]   -> $n drop rows survive the nightly loop")
      }
    }
    // ---- round-13: ONLINE ANN SERVING at index scale -------------------
    // The stream_ann_probe_wm deployment form (watermark-bounded dedup
    // state) probing the amp× PERSISTED LSH index: query traffic arrives
    // in waves (one parquet file per micro-batch via maxFilesPerTrigger),
    // each wave's arrival_ts one hour later, with a 10-minute dedup
    // delay — so cross-batch state EXPIRES as the stream runs and the
    // bounded-state claim is MEASURED per micro-batch (state row
    // high-water mark from StreamingQueryProgress), not asserted.
    section("r13") {
      val cfg = AnnIndex.Config(dim = 64, nBits = 6, nTables = 16)
      val idxPath = graft.core.SessionCache.newTempDir("graft-scale-stream-lsh")
      timed(s"stream-serve OFFLINE: LSH index build+write ($nEmb vec)") {
        AnnIndex.writeIndex(AnnIndex.buildIndex(emb, "vec_id", "embedding", cfg), idxPath, cfg)
      }
      val index = spark.read.parquet(idxPath)
      val nWaves = 10
      val waveSize = 200
      val qDir = graft.core.SessionCache.newTempDir("graft-scale-stream-q")
      for (w <- 0 until nWaves)
        emb.filter(col("vec_id") >= w.toLong * waveSize &&
            col("vec_id") < (w + 1).toLong * waveSize)
          .withColumn("arrival_ts",
            timestamp_seconds(lit(1704067200L) + lit(w.toLong * 3600L)))
          .coalesce(1).write.mode("append").parquet(qDir)
      timed(s"stream-serve: ${nWaves * waveSize} q in $nWaves waves vs index") {
        val queries = spark.readStream
          .schema(spark.read.parquet(qDir).schema)
          .option("maxFilesPerTrigger", 1).parquet(qDir)
        val sq = graft.streaming.Streams.toMemorySink(
          graft.streaming.Streams.annProbeStreamWithinWatermark(
              queries, "vec_id", "embedding", index, threshold = 0.9, cfg,
              tsCol = "arrival_ts", delay = "10 minutes")
            .select(col("q_id"), col("c_id")),
          "scale_stream_ann", "append").start()
        require(sq.awaitTermination(600000), "serving stream did not finish in 600s")
        val progresses = sq.recentProgress.filter(_.numInputRows > 0)
        val stateRows = progresses.flatMap(_.stateOperators.map(_.numRowsTotal))
        val batchMs = progresses.map(_.durationMs.getOrDefault("triggerExecution", 0L))
        println(s"[scale]   -> ${spark.table("scale_stream_ann").count()} pairs emitted " +
          s"over ${progresses.length} micro-batches")
        println(s"[scale]   -> state rows per batch: ${stateRows.mkString(", ")} " +
          s"(high-water ${if (stateRows.isEmpty) 0L else stateRows.max})")
        println(s"[scale]   -> per-batch trigger ms: ${batchMs.mkString(", ")}")
      }
    }

    // Round-13 text-curation additions over the amplified documents: the
    // two explode-heavy aggregations (vocabulary's two-level rollup,
    // bigram novelty's count join) are the ones whose shuffle volume
    // scales with token mass — measured here; the scrub and the
    // stratified sample are single codegen passes and should track the
    // plain scan time.
    section("r13b") {
      timed(s"vocabulary top-100 ($nDocs docs)") {
        TextAnalysis.vocabulary(docs, "doc_id", "text", 100).collect()
      }
      timed(s"distinct words exact+sketch ($nDocs docs)") {
        val r = TextAnalysis.distinctWordStats(docs, "text").collect().head
        require(r.getBoolean(1), "sketch outside 5% at scale")
      }
      timed(s"bigram novelty ($nDocs docs)") {
        // aggregate a VALUE column — a bare count() lets the optimizer
        // eliminate the unique-key left join and measure nothing
        TextAnalysis.bigramNovelty(docs, "doc_id", "text")
          .agg(sum(col("familiarity"))).collect()
      }
      timed(s"PII scrub pass ($nDocs docs)") {
        docs.select(TextAnalysis.scrubPii(col("text")).as("s"))
          .agg(sum(length(col("s")))).collect()
      }
      timed(s"stratified sample ($nDocs docs)") {
        Splits.stratifiedSample(
          docs.withColumn("tier",
            when(col("doc_id") % 3 === 0, "high")
              .when(col("doc_id") % 3 === 1, "mid").otherwise("low")),
          "doc_id", col("tier"),
          Seq("high" -> 1.0, "mid" -> 0.5, "low" -> 0.2)).count()
      }
      // maintained count table: append is linear in the batch — the
      // avoided cost is the full recount
      val ctPath = graft.core.SessionCache.newTempDir("graft-scale-count-table")
      val ctCut = (nDocs * 99L) / 100L
      timed(s"count-table BUILD (99% of $nDocs docs)") {
        CountTable.build(docs.filter(col("doc_id") < ctCut), "text", n = 1, ctPath)
      }
      timed("count-table APPEND 1% batch") {
        CountTable.append(docs.filter(col("doc_id") >= ctCut), "text", n = 1, ctPath)
      }
      timed("count-table COMPACT (merge deltas)") {
        CountTable.compact(spark, ctPath)
      }
      timed("count-table top-100 from maintained state") {
        CountTable.topN(spark, ctPath, 100).collect()
      }
    }

    // Round-14 heavy-hitters sketch: one MG pass over the full exploded
    // token stream vs the exact count table — the bounded-state
    // monitoring trade measured.
    section("r14c") {
      timed(s"heavy-hitters MG sketch k=20 ($nDocs docs)") {
        Sketches.heavyHitterTokens(docs.select(col("text")), "text", 20).collect()
      }
      timed(s"exact count table top-20 (the unbounded twin, $nDocs docs)") {
        CountTable.counts(docs, "text", n = 1)
          .orderBy(desc("tf")).limit(20).collect()
      }
    }

    // Round-14 keyword-family completion: the positional index's whole
    // serving surface at scale — build/append (now paying the positions
    // collect), keyword probe (positions must be FREE via column
    // pruning), batch probe at query volume (SimJoin.rankTopK shape),
    // hybrid RRF fusion, tombstone-only delete + merge-on-read probe,
    // and the headline: index-served PHRASE search vs the full-scan form
    // (the r13 "scan-serve at 100 TB" gap).
    section("r14") {
      val terms = Seq("vector", "stream", "hash")
      val idxPath = graft.core.SessionCache.newTempDir("graft-scale-bm25-r14")
      timed(s"bm25 POSITIONAL BUILD (99% of $nDocs docs)") {
        IndexedBm25.build(docs.filter(col("doc_id") < nDocs * 99L / 100L),
          "doc_id", "text", idxPath)
      }
      timed("bm25 positional APPEND 1% batch") {
        IndexedBm25.append(docs.filter(col("doc_id") >= nDocs * 99L / 100L),
          "doc_id", "text", idxPath)
      }
      timed("bm25 keyword PROBE top-10 (positions col pruned)") {
        IndexedBm25.topK(spark, idxPath, terms, 10).collect()
      }
      locally {
        import spark.implicits._
        val vocabTerms = Seq("vector", "stream", "hash", "join", "sort",
          "merge", "scan", "filter", "row", "query")
        val queries = (0 until 100).map { i =>
          (i.toLong, Seq(vocabTerms(i % 10), vocabTerms((i / 2 + 3) % 10)).distinct)
        }.toDF("q_id", "terms")
        timed("bm25 BATCH probe 100q top-5") {
          IndexedBm25.topKBatch(spark, idxPath, queries, 5).count()
        }
      }
      timed("hybrid RRF (bm25 top-20 + cosine top-20 -> top-10)") {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))
        val lex = Bm25.topK(docs, "doc_id", "text", terms, 20)
          .withColumn("rank", row_number().over(w))
        val sem = Similarity.topK(emb, "embedding", "vec_id", q, 20)
          .select(col("vec_id").as("doc_id"), col("score"))
          .withColumn("rank", row_number().over(w))
        Bm25.rrfFuse(lex, sem, 10).collect()
      }
      timed(s"phrase FULL SCAN ($nDocs docs)") {
        docs.select(col("doc_id"),
            TextAnalysis.phrasePositions(col("text"),
              Seq("vector", "stream")).as("p"))
          .select(col("doc_id"), size(col("p")).as("n"))
          .filter(col("n") > 0).count()
      }
      timed("phrase INDEX probe") {
        IndexedBm25.phraseSearch(spark, idxPath,
          Seq("vector", "stream")).count()
      }
      timed("phrase INDEX probe (2nd, warm file index)") {
        IndexedBm25.phraseSearch(spark, idxPath,
          Seq("vector", "stream")).count()
      }
      timed("bm25 DELETE 1000 ids (tombstone-only write)") {
        IndexedBm25.delete(spark, idxPath, 0L until 1000L)
      }
      timed("bm25 probe after delete (merge-on-read stats)") {
        IndexedBm25.topK(spark, idxPath, terms, 10).collect()
      }
      timed("phrase INDEX probe after delete") {
        IndexedBm25.phraseSearch(spark, idxPath,
          Seq("vector", "stream")).count()
      }
    }

    // Round-14 line curation at scale: lineClean is a per-row HOF pass
    // (must track scan speed, like the PII scrub); hotLines is a
    // line-vocabulary-sized aggregate; removeHotLines is a broadcast-set
    // in-row filter (corpus never shuffles). Aggregates over the computed
    // columns force real evaluation (the round-8 pruned-probe lesson).
    section("r14b") {
      val aug = docs.select(col("doc_id"),
        concat_ws("\n",
          lit("Subscribe to our newsletter"),
          concat(col("text"), lit(".")),
          lit("copyright footer all pages share"),
          concat(lit("unique "), col("doc_id").cast("string"))).as("text"))
      timed(s"lineClean rules pass ($nDocs docs)") {
        TextAnalysis.lineClean(aug, "text", minWords = 5,
            boilerplateRe = "(?i)subscribe|cookie")
          .agg(sum(length(col("cleaned"))), sum(col("n_kept"))).collect()
      }
      val hot = timed(s"hotLines df table ($nDocs docs)") {
        val h = TextAnalysis.hotLines(aug, "text", maxDocFreq = 1000L)
          .localCheckpoint()
        println(s"[scale]   -> hot lines: ${h.count()}")
        h
      }
      timed(s"removeHotLines in-row filter ($nDocs docs)") {
        TextAnalysis.removeHotLines(aug, "text", hot)
          .agg(sum(length(col("cleaned"))), sum(col("n_removed"))).collect()
      }
    }

    // Round-13 BM25: the inverted-index probe must be corpus-scan-free
    // (reads only the query terms' hash partitions + scalar meta), vs the
    // direct scan that pays the corpus pass; APPEND must be linear in the
    // batch. Also times the streaming-face scorer as a batch backfill
    // (pure codegen projection — should track plain scan speed).
    section("r13d") {
      val terms = Seq("vector", "stream", "hash")
      timed(s"bm25 DIRECT scan top-10 ($nDocs docs)") {
        Bm25.topK(docs, "doc_id", "text", terms, 10).collect()
      }
      val idxPath = graft.core.SessionCache.newTempDir("graft-scale-bm25")
      timed(s"bm25 index BUILD ($nDocs docs)") {
        IndexedBm25.build(docs.filter(col("doc_id") < nDocs * 99L / 100L),
          "doc_id", "text", idxPath)
      }
      timed("bm25 index APPEND 1% batch") {
        IndexedBm25.append(docs.filter(col("doc_id") >= nDocs * 99L / 100L),
          "doc_id", "text", idxPath)
      }
      timed("bm25 index PROBE top-10") {
        IndexedBm25.topK(spark, idxPath, terms, 10).collect()
      }
      val (ts, nn, tot) = IndexedBm25.frozenStats(spark, idxPath, terms)
      timed(s"bm25 standing-query backfill, withScore ($nDocs docs)") {
        Bm25.withScore(docs, "text", ts, nn, tot)
          .filter(col("score") >= 1.1).count()
      }
    }

    // Round-13 tokenizer apply: the broadcast-map default must track the
    // plain tokenize-scan cost (it adds one O(1) map lookup per token);
    // the distributed join fallback pays a token-level regroup Exchange —
    // this measures the gap that makes broadcast the default. Both
    // aggregate total ids (a bare count() would let the optimizer skip
    // the work).
    section("r13c") {
      val vocab = timed(s"vocab count+rank ($nDocs docs)") {
        val v = TextAnalysis.vocabIds(CountTable.counts(docs, "text", n = 1)).cache()
        println(s"[scale]   -> vocab entries: ${v.count()}")
        v
      }
      timed(s"tokenize APPLY, broadcast-map ($nDocs docs)") {
        TextAnalysis.tokenizeToIds(docs, "doc_id", "text", vocab)
          .agg(sum(size(col("token_ids")))).collect()
      }
      timed(s"tokenize APPLY, join+regroup fallback ($nDocs docs)") {
        TextAnalysis.tokenizeToIdsJoin(docs, "doc_id", "text", vocab)
          .agg(sum(size(col("token_ids")))).collect()
      }
    }
    // ---- Round-15 additions -------------------------------------------
    // (a) Batch positional probe: 5 standing phrases in ONE plan vs 5
    //     single pruned probes — the wall-clock gap that motivated
    //     phraseSearchBatch (VERDICT r14 "missing" #1).
    // (b) Persisted hot-lines table: append-maintained serving read vs a
    //     full-corpus recompute — the nightly-curation story.
    // (c) Quantized IVF probe + float re-rank vs the float probe.
    // (d) Committed-epoch protocol overhead: probe latency at 1 epoch vs
    //     after 10 appends (11 epochs), then after compact — the cost of
    //     crash-safe appends must be a listing constant, not a scan term.
    //     Section r15 runs (a), (b) and (d); section r15c runs (c).
    section("r15") {
      import spark.implicits._
      val phrases = Seq(
        0L -> Seq("vector", "stream"), 1L -> Seq("table", "hash"),
        2L -> Seq("slow", "hash", "batch"), 3L -> Seq("big", "table"),
        4L -> Seq("merge", "group"))
      val idxPath = graft.core.SessionCache.newTempDir("graft-scale-bm25-r15")
      timed(s"bm25 positional index BUILD ($nDocs docs)") {
        IndexedBm25.build(docs, "doc_id", "text", idxPath)
      }
      timed("phrase probe x5, SINGLE (5 pruned scans)") {
        phrases.foreach { case (_, ph) =>
          IndexedBm25.phraseSearch(spark, idxPath, ph).count() }
      }
      timed("phrase probe x5, BATCH (one plan)") {
        IndexedBm25.phraseSearchBatch(spark, idxPath,
          phrases.toDF("q_id", "phrase"), k = 10).count()
      }
      timed("proximity probe x5, BATCH (one plan)") {
        IndexedBm25.proximitySearchBatch(spark, idxPath,
          phrases.toDF("q_id", "terms"), window = 10, k = 10).count()
      }

      // (b) hot-lines lifecycle vs recompute (amplified docs carry no
      // newlines — plant the 4-line layout the declared rows use)
      val aug = docs.select(col("doc_id"),
        concat_ws("\n", lit("Subscribe to our newsletter"),
          concat(col("text"), lit(".")),
          lit("copyright footer all pages share"),
          concat(lit("unique "), col("doc_id").cast("string"))).as("text"))
      val hlPath = graft.core.SessionCache.newTempDir("graft-scale-hotlines")
      timed(s"hot-lines BUILD 99% ($nDocs docs)") {
        HotLinesIndex.build(aug.filter(col("doc_id") < nDocs * 99L / 100L), "text", hlPath)
      }
      timed("hot-lines APPEND 1% batch") {
        HotLinesIndex.append(aug.filter(col("doc_id") >= nDocs * 99L / 100L), "text", hlPath)
      }
      timed("hot-lines SERVE (merge-on-read, 2 epochs)") {
        HotLinesIndex.hotLines(spark, hlPath, maxDocFreq = 100L).count()
      }
      timed(s"hot-lines RECOMPUTE (corpus scan, $nDocs docs)") {
        TextAnalysis.hotLines(aug, "text", maxDocFreq = 100L).count()
      }
      timed("hot-lines removal served from the table") {
        TextAnalysis.removeHotLines(aug, "text",
          HotLinesIndex.hotLines(spark, hlPath, maxDocFreq = 100L)).count()
      }

      // (d) epoch-read overhead across appends
      val terms = Seq("vector", "stream", "hash")
      timed("bm25 probe, 1 committed epoch") {
        IndexedBm25.topK(spark, idxPath, terms, 10).collect()
      }
      timed("bm25 APPEND x10 (100-doc batches, fresh ids)") {
        (0 until 10).foreach { i =>
          IndexedBm25.append(
            docs.filter(col("doc_id") < 100)
              .select((col("doc_id") + lit(nDocs) + lit(i * 100L)).as("doc_id"),
                col("text")),
            "doc_id", "text", idxPath)
        }
      }
      timed("bm25 probe, 11 committed epochs") {
        IndexedBm25.topK(spark, idxPath, terms, 10).collect()
      }
      timed("bm25 COMPACT (fold 11 epochs)") {
        IndexedBm25.compact(spark, idxPath)
      }
      timed("bm25 probe, post-compact (1 epoch)") {
        IndexedBm25.topK(spark, idxPath, terms, 10).collect()
      }
    }
    section("r15c") {
      // (c) quantized IVF serving
      val model = IvfIndex.fit(emb, "embedding")
      val ivfDir = graft.core.SessionCache.newTempDir("graft-scale-ivf-r15")
      timed(s"ivf index build+write ($nEmb vectors)") {
        IvfIndex.writeIndex(IvfIndex.buildIndex(emb, "vec_id", "embedding", model), ivfDir)
      }
      val fIdx = IvfIndex.readIndex(spark, ivfDir)
      // newTempDir CREATES the dir — write to a child path
      val qDir = graft.core.SessionCache.newTempDir("graft-scale-ivfq") + "/q"
      IvfIndex.quantizeIndex(fIdx).write.partitionBy("cluster").parquet(qDir)
      val qIdx = spark.read.parquet(qDir)
      val pDir = graft.core.SessionCache.newTempDir("graft-scale-ivfp") + "/p"
      IvfIndex.quantizeIndexPacked(fIdx).write.partitionBy("cluster").parquet(pDir)
      val pIdx = spark.read.parquet(pDir)
      println(f"[scale] index bytes: float ${dirBytes(ivfDir)}%,d  " +
        f"array<int> ${dirBytes(qDir)}%,d  packed-binary ${dirBytes(pDir)}%,d")
      val nProbe = IvfIndex.defaultNProbe(model.centroids.length)
      timed("ivf probe FLOAT top-10") {
        IvfIndex.queryTopK(fIdx, model, q, 10, nProbe).collect()
      }
      timed("ivf probe QUANTIZED + float re-rank top-10") {
        IvfIndex.queryTopKQuantizedRerank(qIdx, fIdx, model, q, 10, nProbe).collect()
      }
      timed("ivf probe PACKED-i8 + float re-rank top-10") {
        IvfIndex.queryTopKPackedRerank(pIdx, fIdx, model, q, 10, nProbe).collect()
      }
    }

    // ---- Round-17 additions -------------------------------------------
    // The PERSISTED packed-IVF index at the same 1M-vector setting
    // (VERDICT r16 "missing" #2a): round 15 measured the packed probe
    // over in-session derived frames; this measures the ON-DISK artifact
    // the engine now maintains — build, probe time AND actual bytes read
    // (the 4× candidate-IO claim, on disk), single-commit append,
    // tombstone fold, governor compact.
    section("r17") {
      val model = IvfIndex.fit(emb, "embedding")
      val root = graft.core.SessionCache.newTempDir("graft-scale-ivfpacked") + "/idx"
      timed(s"packed-ivf BUILD ($nEmb vectors, both forms, one commit)") {
        IvfPackedIndex.build(emb, "vec_id", "embedding", model, root)
      }
      val nProbe = IvfIndex.defaultNProbe(model.centroids.length)
      def persistedProbe(): Unit =
        IvfPackedIndex.queryTopK(spark, root, model, q, 10, nProbe).collect()
      // warm the FS listing caches once so the float-vs-packed comparison
      // below is scan cost, not first-listing cost
      persistedProbe()
      measured(spark, "ivf probe FLOAT (persisted float side)") {
        IvfIndex.queryTopK(IvfPackedIndex.readFloat(spark, root), model, q, 10, nProbe)
          .collect()
      }
      measured(spark, "ivf probe PERSISTED PACKED + pruned float re-rank") {
        persistedProbe()
      }
      measured(spark, "packed candidate pass ALONE (int8 scan, probed clusters)") {
        val probes = model.nearestClusters(q, nProbe)
        Similarity.cutTopK(
          IvfIndex.pruneProbes(IvfPackedIndex.readPacked(spark, root), probes)
            .select(col("id"),
              graft.functions.VectorFunctions
                .cosine_sim_i8(col("codes"), typedlit(q.toSeq)).as("score")),
          "id", 40).collect()
      }
      timed("packed-ivf APPEND 1% batch (single-commit, both forms)") {
        IvfPackedIndex.append(
          emb.filter(col("vec_id") < nEmb / 100)
            .select((col("vec_id") + lit(nEmb)).as("vec_id"), col("embedding")),
          "vec_id", "embedding", model, root)
      }
      timed("packed-ivf probe, 2 committed epochs") { persistedProbe() }
      timed("packed-ivf DELETE 100 ids (one tombstone write)") {
        IvfPackedIndex.delete(spark, root, 0L until 100L)
      }
      timed("packed-ivf probe, tombstone merge-on-read") { persistedProbe() }
      timed("packed-ivf COMPACT (fold 2 epochs + tombstones)") {
        IvfPackedIndex.compact(spark, root)
      }
      timed("packed-ivf probe, post-compact (1 epoch)") { persistedProbe() }

      // Batch quantized serving at query volume (round-17): N standing
      // queries in ONE plan vs N single persisted probes — the gap that
      // motivated queryTopKBatchPackedRerank (each single probe pays its
      // own listing + two jobs; the batch pays them once).
      val batchQ = emb.filter(col("vec_id") < 100)
      timed("packed-ivf BATCH probe, 100 queries (one plan)") {
        IvfPackedIndex.queryTopKBatch(spark, root, model, batchQ,
          "vec_id", "embedding", 10, nProbe).count()
      }
      val qVecs = batchQ.collect()
        .map(r => r.getSeq[Float](1).toArray).take(10)
      timed("packed-ivf SINGLE probe x10 (10 plans — scale to 100: x10)") {
        qVecs.foreach(v =>
          IvfPackedIndex.queryTopK(spark, root, model, v, 10, nProbe).count())
      }
    }

    // ---- Round-17b: the CLOSED ingest loop at corpus scale ------------
    // The gate-then-append maintainer over the amplified documents:
    // postings index over 99%, then the 1% daily drop arrives as TWO
    // waves through jaccardGateMaintainAvailableNow — each wave gates
    // against the index SO FAR (wave 2 sees wave 1's survivors) and
    // appends its survivors' postings single-commit. NOTE on the
    // amplified corpus the hot-shingle cap BINDS hard (500 near-copies
    // share every shingle), which is exactly the designed behavior at
    // this corpus shape — the numbers measure the pipeline's fixed
    // machinery (explode, cap, postings join, append, epoch commit), a
    // floor for the real-corpus cost where the cap is mostly idle.
    section("r17b") {
      val cut = nDocs * 99L / 100L
      val idxPath = graft.core.SessionCache.newTempDir("graft-scale-jgatem") + "/idx"
      timed(s"shingle postings BUILD ($cut docs)") {
        Dedup.buildPostingsIndex(docs.filter(col("doc_id") < cut),
          "doc_id", "text", n = 2, idxPath)
      }
      val arrival = graft.core.SessionCache.newTempDir("graft-scale-jgatem-src")
      val ckpt = graft.core.SessionCache.newTempDir("graft-scale-jgatem-ckpt")
      val out = graft.core.SessionCache.newTempDir("graft-scale-jgatem-out") + "/surv"
      val half = cut + (nDocs - cut) / 2
      def wave(name: String, lo: Long, hi: Long): Unit = {
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .write.mode("append").parquet(arrival)
        timed(name) {
          graft.streaming.Streams.jaccardGateMaintainAvailableNow(
            spark.readStream.schema(docs.schema).parquet(arrival),
            "doc_id", "text", n = 2, threshold = 0.2, idxPath, out,
            checkpoint = Some(ckpt), timeoutMs = 1800000)
        }
      }
      // canary around each wave (round-19; VERDICT r18 "wrong" #2): an
      // out-of-band wave time is adjudicable only with load context
      canaryPair("pre wave 1")
      wave(s"gate+append wave 1 (${half - cut} docs vs $cut-doc index)", cut, half)
      canaryPair("pre wave 2")
      wave(s"gate+append wave 2 (${nDocs - half} docs, incl. wave-1 survivors)", half, nDocs)
      canaryPair("post wave 2")
      println(s"[scale] gate-append survivors: ${spark.read.parquet(out).count()}; " +
        s"committed epochs: ${graft.store.EpochCommit.committedCount(spark, idxPath)}")
    }

    // ---- Round-18: the epoch GOVERNOR at wave volume ------------------
    // VERDICT r17 next #7: the r17 loop rehearsal ran 2 waves / 3 epochs
    // with compactEvery=0, so "wave-N cost stays flat under compaction"
    // was extrapolated from N=2. Here the last 40% of the corpus arrives
    // as 16 waves through the SAME closed loop, once with the governor
    // off (epoch fan-in grows by one per non-empty wave) and once with
    // compactEvery=4 (fan-in folds back whenever 4 epochs accumulate) —
    // the two per-wave cost curves are the 100 TB property under test.
    // Fan-in is a FILE-LISTING effect (each batch's committed-only index
    // read lists and merges every epoch's files), so the amplified
    // fixture exercises it at any corpus size. The waves are NOVEL
    // synthetic docs (hex-word texts, jaccard ≈ 0 against everything):
    // every wave must SURVIVE and append an epoch, or there is no
    // fan-in to govern — amplified near-copy waves drop entirely at the
    // gate and leave the epoch count at 1 forever (the r17b rehearsal
    // covers that dropping path; this block isolates the append path).
    section("r18") {
      val cut = nDocs * 3L / 5L
      val waves = 16
      val waveN = math.max(nDocs / 50L, 500L)
      // wave ids start ABOVE the corpus id space (nDocs-based, not a
      // fixed constant): a fixed base collides with corpus ids past 1M
      // docs, and colliding postings would inflate overlap counts
      def waveDocs(w: Int): org.apache.spark.sql.DataFrame =
        spark.range(waveN).select(
          (lit(nDocs + w.toLong * waveN) + col("id")).as("doc_id"),
          concat_ws(" ", (0 until 8).map(j =>
            md5(concat_ws(":", lit(w), col("id"), lit(j)))): _*).as("text"))
      def run(compactEvery: Int): Seq[Double] = {
        val idxPath = graft.core.SessionCache.newTempDir(
          s"graft-scale-gov$compactEvery") + "/idx"
        timed(s"governor run compactEvery=$compactEvery: postings BUILD ($cut docs)") {
          Dedup.buildPostingsIndex(docs.filter(col("doc_id") < cut),
            "doc_id", "text", n = 2, idxPath)
        }
        val arrival = graft.core.SessionCache.newTempDir("graft-scale-gov-src")
        val ckpt = graft.core.SessionCache.newTempDir("graft-scale-gov-ckpt")
        val out = graft.core.SessionCache.newTempDir("graft-scale-gov-out") + "/surv"
        (0 until waves).map { w =>
          waveDocs(w).write.mode("append").parquet(arrival)
          val t0 = System.nanoTime()
          graft.streaming.Streams.jaccardGateMaintainAvailableNow(
            spark.readStream.schema(docs.schema).parquet(arrival),
            "doc_id", "text", n = 2, threshold = 0.2, idxPath, out,
            checkpoint = Some(ckpt), compactEvery = compactEvery,
            timeoutMs = 1800000)
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"[scale] governor ce=$compactEvery wave ${w + 1}%2d: $sec%7.2f s  " +
            s"epochs=${graft.store.EpochCommit.committedCount(spark, idxPath)}")
          sec
        }
      }
      val without = run(0)
      val withGov = run(4)
      println("[scale] governor curve WITHOUT: " +
        without.map(s => f"$s%.2f").mkString(", "))
      println("[scale] governor curve ce=4:    " +
        withGov.map(s => f"$s%.2f").mkString(", "))
    }

    // ---- Round-19a: banded dHash gate — bytes profile vs the flat gate
    // (VERDICT r18 "missing" #1 done-criterion: size the per-batch index
    // bytes before/after). Corpus signatures persisted both ways; gates
    // run over PRE-HASHED batch sigs so the measurement isolates INDEX
    // bytes, not the batch decode. Radius 6 (the operator default, 8
    // bands × 512 keys = 4096 cells) exercises the pruned-main path for
    // the small batch; the large batch and the radius-10 run exercise
    // the cost-based flat-slice fallback.
    section("r19") {
      import graft.operators.{Dedup, Multimodal}
      val assets = Multimodal.fakeAssets(docs, "text")
      val sigsAll = assets.select(col("doc_id").cast("long").as("id"),
          Multimodal.dHashCol(col("asset_bytes")).as("sig"))
        .localCheckpoint() // hash the corpus ONCE; both forms persist from it
      val flatP = graft.core.SessionCache.newTempDir("graft-scale-dhflat") + "/idx"
      timed(s"dHash FLAT index build ($nDocs sigs)") {
        sigsAll.write.parquet(flatP)
      }
      for (radius <- Seq(6, 10)) {
        val bandedP = graft.core.SessionCache.newTempDir(s"graft-scale-dhband$radius") + "/idx"
        timed(s"dHash BANDED index build (radius $radius)") {
          Dedup.buildBandedDHashIndexFromSigs(sigsAll, bandedP, radius)
        }
        println(f"[scale] dHash index bytes: flat ${dirBytes(flatP)}%,d  " +
          f"banded(r$radius) ${dirBytes(bandedP)}%,d")
        for (nBatch <- Seq(1, 100, 10000)) {
          val batchSigs = sigsAll.limit(nBatch)
            .select((col("id") + 10000000L).as("id"), col("sig")).localCheckpoint()
          measured(spark, s"gate FLAT form   radius=$radius batch=$nBatch") {
            Dedup.sigDupIdsVsIndex(batchSigs,
              spark.read.parquet(flatP), radius).count()
          }
          measured(spark, s"gate BANDED form radius=$radius batch=$nBatch") {
            Dedup.sigDupIdsVsBandedIndex(batchSigs, bandedP, radius).count()
          }
        }
      }
    }

    // ---- Round-19b: the packed-IVF intra-bucket row-group prune,
    // OBSERVED (VERDICT r18 "wrong" #3 / next #1: bucketing made each
    // bucket file ≈ one row group at rehearsal geometry, so the
    // In(cluster) pushdown could skip nothing and candidate bytesRead
    // ROSE 9× — the claim that bytes track PROBED CLUSTERS once buckets
    // span many row groups was extrapolated, never measured). Force the
    // multi-row-group geometry at rehearsal scale with a small
    // parquet.block.size at write, then sweep nProbe and record
    // candidate bytes at BOTH geometries.
    section("r19b") {
      /** STATS-ADMITTED candidate bytes: for every packed-side file in a
        * TOUCHED bucket dir, the compressed bytes of the row groups
        * whose cluster [min, max] stats admit ≥ 1 probed cluster — the
        * logical IO a stats-filtering parquet reader performs for the
        * candidate pass. Computed from footers driver-side because the
        * executor `bytesRead` counter OVERCOUNTS under pushdown on the
        * local FS (seek + readahead re-accounting: a filtered read of an
        * 866 KB file reported 4 MB in a controlled probe) — it can show
        * bytes RISING as pruning improves, so it cannot adjudicate this
        * claim.
        */
      def admittedBytes(root: String, probes: Seq[Int]): (Long, Int, Int, Long) = {
        import scala.jdk.CollectionConverters._
        val byBucket = probes.groupBy(p => math.floorMod(p, IvfIndex.ClusterBuckets))
        val packed = new java.io.File(s"${root.stripPrefix("file:")}/packed")
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isFile) { if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty }
          else Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Seq.empty)
        var admitted = 0L; var admittedG = 0; var totalG = 0; var touchedBytes = 0L
        for (file <- walk(packed)) {
          val bucket = file.getPath.split("/").find(_.startsWith("bucket="))
            .map(_.stripPrefix("bucket=").toInt)
          byBucket.get(bucket.getOrElse(-1)).foreach { ps =>
            val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(file.getPath),
                spark.sparkContext.hadoopConfiguration))
            try rdr.getFooter.getBlocks.asScala.foreach { b =>
              totalG += 1
              touchedBytes += b.getCompressedSize
              val cc = b.getColumns.asScala
                .find(_.getPath.toDotString == "cluster").get
              val st = cc.getStatistics
              val mn = st.genericGetMin.asInstanceOf[Number].intValue
              val mx = st.genericGetMax.asInstanceOf[Number].intValue
              if (ps.exists(p => p >= mn && p <= mx)) {
                admittedG += 1; admitted += b.getCompressedSize
              }
            } finally rdr.close()
          }
        }
        (admitted, admittedG, totalG, touchedBytes)
      }
      val model = IvfIndex.fit(emb, "embedding")
      val hconf = spark.sparkContext.hadoopConfiguration
      val defaultBlock = hconf.getInt("parquet.block.size", 128 * 1024 * 1024)
      val defaultPage = hconf.getInt("parquet.page.size", 1024 * 1024)
      for ((geom, block, page) <- Seq(
          ("DEFAULT-block", defaultBlock, defaultPage),
          ("SMALL-block-256k", 256 * 1024, 16 * 1024))) {
        hconf.setInt("parquet.block.size", block)
        hconf.setInt("parquet.page.size", page)
        val root = graft.core.SessionCache.newTempDir(s"graft-scale-rg-$geom") + "/idx"
        timed(s"packed-ivf BUILD [$geom] ($nEmb vectors)") {
          IvfPackedIndex.build(emb, "vec_id", "embedding", model, root)
        }
        // warm listings so the sweep isolates scan bytes
        IvfPackedIndex.queryTopK(spark, root, model, q, 10, 16).collect()
        val kAll = model.centroids.length
        for (nProbe <- Seq(16, 62, 125, 250)) {
          val probes = model.nearestClusters(q, nProbe)
          measured(spark, s"packed candidate pass [$geom] nProbe=$nProbe/$kAll") {
            Similarity.cutTopK(
              IvfIndex.pruneProbes(IvfPackedIndex.readPacked(spark, root), probes)
                .select(col("id"),
                  graft.functions.VectorFunctions
                    .cosine_sim_i8(col("codes"), typedlit(q.toSeq)).as("score")),
              "id", 40).collect()
          }
          val (adm, admG, totG, touched) = admittedBytes(root, probes)
          println(f"[scale]   stats-admitted [$geom] nProbe=$nProbe: " +
            f"$adm%,d of $touched%,d touched-bucket bytes " +
            f"($admG of $totG row groups)")
        }
      }
      hconf.setInt("parquet.block.size", defaultBlock)
      hconf.setInt("parquet.page.size", defaultPage)
    }
    spark.stop()
  }
}
