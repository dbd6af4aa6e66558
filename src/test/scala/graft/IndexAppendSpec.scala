package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, IvfIndex}
import graft.store.MetaSidecar

/** Index MAINTENANCE contracts (round-9): appending a daily batch into a
  * persisted index must probe identically to a from-scratch build over
  * old ∪ new — LSH unconditionally (data-independent hyperplanes), IVF
  * against the frozen model — and the drift check must separate
  * same-distribution batches from genuinely shifted ones.
  */
class IndexAppendSpec extends SparkSpec {

  private lazy val embs = spark.read.parquet(s"$Sf0001/embeddings.parquet")
  private lazy val cfg = AnnIndex.Config(dim = 64, nBits = 4, nTables = 8)
  private lazy val qVec = embs.filter(col("vec_id") === 3)
    .select("embedding").head.getSeq[Float](0).toArray

  private def probeRows(df: DataFrame): Seq[(Long, Double)] =
    df.select(col("id"), round(col("score"), 6).as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("LSH appendToIndex: probe equals rebuild-from-scratch over old ∪ new") {
    val old = embs.filter(col("vec_id") < 150)
    val batch = embs.filter(col("vec_id") >= 150)
    val path = java.nio.file.Files.createTempDirectory("graft-lsh-append").toString
    AnnIndex.writeIndex(AnnIndex.buildIndex(old, "vec_id", "embedding", cfg), path, cfg)
    AnnIndex.appendToIndex(batch, path, "vec_id", "embedding", cfg)
    val viaAppend = probeRows(AnnIndex.queryTopK(spark.read.parquet(path), qVec, 10, cfg))
    val viaRebuild = probeRows(
      AnnIndex.queryTopK(AnnIndex.buildIndex(embs, "vec_id", "embedding", cfg), qVec, 10, cfg))
    assert(viaAppend == viaRebuild)
    // and the appended rows are really served from the index files
    assert(spark.read.parquet(path).count() == embs.count() * cfg.nTables)

    // compaction: per-append files collapse back to one per dir, rows and
    // probes unchanged
    def parquetFiles() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
    }
    val before = parquetFiles()
    AnnIndex.compactIndex(spark, path)
    assert(parquetFiles() < before, s"compaction did not reduce files ($before)")
    assert(spark.read.parquet(path).count() == embs.count() * cfg.nTables)
    assert(probeRows(AnnIndex.queryTopK(spark.read.parquet(path), qVec, 10, cfg)) == viaRebuild)
  }

  test("LSH deleteFromIndex: tombstoned probe == rebuild-without; compact folds; pruning survives") {
    val path = java.nio.file.Files.createTempDirectory("graft-lsh-delete").toString
    AnnIndex.writeIndex(AnnIndex.buildIndex(embs, "vec_id", "embedding", cfg), path, cfg)
    AnnIndex.deleteFromIndex(spark, path, (0L until 50L) :+ 99999L) // unknown id no-op
    val expect = probeRows(AnnIndex.queryTopK(
      AnnIndex.buildIndex(embs.filter(col("vec_id") >= 50), "vec_id", "embedding", cfg),
      qVec, 10, cfg))
    val probe = AnnIndex.queryTopK(AnnIndex.readIndex(spark, path), qVec, 10, cfg)
    assert(probeRows(probe) == expect)
    assert(probeRows(probe).forall(_._1 >= 50L))
    // the bucket predicates still prune the partitioned scan through the anti-join
    val scanLine = probe.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("table") && scanLine.contains("bucket"),
      s"pruning lost below the tombstone anti-join:\n$scanLine")
    // compact folds tombstones physically; probe unchanged; sidecar gone
    AnnIndex.compactIndex(spark, path)
    assert(probeRows(AnnIndex.queryTopK(AnnIndex.readIndex(spark, path), qVec, 10, cfg)) == expect)
    assert(spark.read.parquet(path).count() == (embs.count() - 50) * cfg.nTables)
    val t = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
    assert(!t.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(t))
  }

  test("IVF appendToIndex: frozen-model append probes equal to frozen-model rebuild") {
    val old = embs.filter(col("vec_id") < 150)
    val batch = embs.filter(col("vec_id") >= 150)
    val model = IvfIndex.fit(old, "embedding", k = 8)
    val nProbe = IvfIndex.defaultNProbe(8)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    IvfIndex.writeIndex(IvfIndex.buildIndex(old, "vec_id", "embedding", model), path)
    IvfIndex.appendToIndex(batch, path, "vec_id", "embedding", model)
    val viaAppend = probeRows(
      IvfIndex.queryTopK(spark.read.parquet(path), model, qVec, 10, nProbe))
    val viaRebuild = probeRows(
      IvfIndex.queryTopK(IvfIndex.buildIndex(embs, "vec_id", "embedding", model), model, qVec, 10, nProbe))
    assert(viaAppend == viaRebuild)
    assert(spark.read.parquet(path).count() == embs.count())

    // IVF compaction: same contract as the LSH twin — fewer files, rows
    // and probes unchanged
    def parquetFiles() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
    }
    val before = parquetFiles()
    IvfIndex.compactIndex(spark, path)
    assert(parquetFiles() < before, s"IVF compaction did not reduce files ($before)")
    assert(spark.read.parquet(path).count() == embs.count())
    assert(probeRows(IvfIndex.queryTopK(spark.read.parquet(path), model, qVec, 10, nProbe)) == viaRebuild)
  }

  test("IVF deleteFromIndex: tombstoned probe == frozen-model rebuild-without; compact folds") {
    val model = IvfIndex.fit(embs, "embedding", k = 8)
    val nProbe = IvfIndex.defaultNProbe(8)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-delete").toString
    IvfIndex.writeIndex(IvfIndex.buildIndex(embs, "vec_id", "embedding", model), path)
    IvfIndex.deleteFromIndex(spark, path, 0L until 50L)
    val expect = probeRows(IvfIndex.queryTopK(
      IvfIndex.buildIndex(embs.filter(col("vec_id") >= 50), "vec_id", "embedding", model),
      model, qVec, 10, nProbe))
    assert(probeRows(IvfIndex.queryTopK(
      IvfIndex.readIndex(spark, path), model, qVec, 10, nProbe)) == expect)
    IvfIndex.compactIndex(spark, path)
    assert(spark.read.parquet(path).count() == embs.count() - 50)
    assert(probeRows(IvfIndex.queryTopK(
      IvfIndex.readIndex(spark, path), model, qVec, 10, nProbe)) == expect)
  }

  test("driftCheck: same-distribution batch passes; shifted batch recommends a re-fit") {
    // baseline must be OUT-OF-SAMPLE: in-sample assignment quality is
    // ~0.15 optimistic at this geometry (measured), which would flag
    // every healthy batch
    val fitPart = embs.filter(col("vec_id") < 100)
    val heldOut = embs.filter(col("vec_id") >= 100 && col("vec_id") < 150)
    val batch = embs.filter(col("vec_id") >= 150)
    val model = IvfIndex.fit(fitPart, "embedding", k = 8)
    val baseline = IvfIndex.meanAssignedCosine(heldOut, "embedding", model)
    assert(!baseline.isNaN && baseline > 0)

    val same = IvfIndex.driftCheck(batch, "embedding", model, baseline)
    assert(!same.refitRecommended,
      s"same-distribution batch flagged: batch=${same.batchMeanCos} baseline=$baseline")

    // an unscorable batch (all-zero vectors) must not read as healthy
    val zeros = spark.range(3).select(col("id").as("vec_id"),
      array_repeat(lit(0f), 64).as("embedding"))
    assert(IvfIndex.driftCheck(zeros, "embedding", model, baseline).refitRecommended)
  }

  test("driftCheck flags a genuine distribution shift (clustered corpus)") {
    // The fixture embeddings are weakly clustered — assignment quality
    // sits near the random-vector level, so no batch can drop much below
    // baseline there. A REAL deployment fits on clustered data; emulate
    // it: 3 tight clusters around orthogonal axes (deterministic noise).
    import spark.implicits._
    def cluster(axis: Int, ids: Range): Seq[(Long, Array[Float])] =
      ids.map { i =>
        val v = Array.tabulate(16)(d =>
          (if (d == axis) 1.0f else 0.0f) + ((i * 31 + d * 7) % 11 - 5) / 100.0f)
        (i.toLong, v)
      }
    val corpus = (cluster(0, 0 until 40) ++ cluster(1, 40 until 80) ++
      cluster(2, 80 until 120)).toDF("vec_id", "embedding")
    val heldOut = (cluster(0, 200 until 220) ++ cluster(1, 220 until 240))
      .toDF("vec_id", "embedding")
    val model = IvfIndex.fit(corpus, "embedding", k = 3)
    val baseline = IvfIndex.meanAssignedCosine(heldOut, "embedding", model)
    assert(baseline > 0.9, s"clustered baseline should be high, got $baseline")

    // same-distribution batch: fine
    val okBatch = (cluster(1, 300 until 330) ++ cluster(2, 330 until 360))
      .toDF("vec_id", "embedding")
    assert(!IvfIndex.driftCheck(okBatch, "embedding", model, baseline).refitRecommended)

    // shifted batch: mass around axes the model never saw
    val shifted = (cluster(9, 400 until 430) ++ cluster(13, 430 until 460))
      .toDF("vec_id", "embedding")
    val drift = IvfIndex.driftCheck(shifted, "embedding", model, baseline)
    assert(drift.refitRecommended,
      s"shifted batch not flagged: batch=${drift.batchMeanCos} baseline=$baseline")
  }

  test("drift verdict FIRING path: flagged batch → re-fit + rebuild restores the recall floor") {
    // The deployment loop the driftCheck scaladoc promises, driven end to
    // end (round-13, VERDICT r12 #4 — every prior spec only proved the
    // healthy no-refit branch): a genuinely shifted batch (a) trips the
    // refit verdict, (b) measurably DEGRADES recall when force-appended
    // under the frozen stale model, and (c) a re-fit over old ∪ new plus
    // rebuild restores the recall floor for the same queries. All inputs
    // are deterministic (seeded k-means, arithmetic noise), so the
    // recalls are exact reproducible values, asserted with margin.
    import spark.implicits._
    val dim = 16
    // WELL-MIXED deterministic noise (not the periodic (i*31+d*7)%11 of
    // the verdict test above): with periodic noise, ids congruent mod 11
    // get IDENTICAL noise vectors, so a query's exact nearest neighbors
    // are precisely the peers sharing its noise — and therefore its
    // cluster assignment — making stale-model recall a vacuous 1.0. Hash
    // mixing decouples "nearest in full noise space" (drives exact NN
    // rank among same-axis peers) from "largest single coordinate"
    // (drives centroid assignment), so pruned probes can actually miss.
    def cluster(axis: Int, ids: Range): Seq[(Long, Array[Float])] =
      ids.map { i =>
        val v = Array.tabulate(dim) { d =>
          val h = i * 0x9E3779B9 + d * 0x85EBCA6B
          val m = ((h % 101) + 101) % 101
          (if (d == axis) 1.0f else 0.0f) + (m - 50) / 1000.0f
        }
        (i.toLong, v)
      }
    val corpus = (0 until 6).flatMap(a => cluster(a, a * 40 until (a + 1) * 40))
      .toDF("vec_id", "embedding")
    val heldOut = (cluster(0, 1000 until 1020) ++ cluster(1, 1020 until 1040))
      .toDF("vec_id", "embedding")
    // this month's data: two directions the stale model never saw
    val batch = (cluster(10, 500 until 530) ++ cluster(13, 530 until 560))
      .toDF("vec_id", "embedding")
    val all = corpus.union(batch)

    val stale = IvfIndex.fit(corpus, "embedding", k = 6)
    val baseline = IvfIndex.meanAssignedCosine(heldOut, "embedding", stale)
    assert(IvfIndex.driftCheck(batch, "embedding", stale, baseline).refitRecommended,
      "shifted batch must trip the refit verdict")

    // force-append under the stale model anyway (the index stays servable
    // — drift degrades recall, never correctness) and measure the damage
    val stalePath = java.nio.file.Files.createTempDirectory("graft-drift-stale").toString
    IvfIndex.writeIndex(IvfIndex.buildIndex(corpus, "vec_id", "embedding", stale), stalePath)
    IvfIndex.appendToIndex(batch, stalePath, "vec_id", "embedding", stale)
    val staleIdx = spark.read.parquet(stalePath)

    val queryIds = Seq(500L, 512L, 524L, 536L, 548L) // shifted-batch queries
    val qVecs = batch.filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val k = 5
    val nProbe = 2 // sub-cluster-count: pruning is real, recall can degrade
    def recallOf(index: DataFrame, model: IvfIndex.Model): Double = {
      val hits = queryIds.map { qid =>
        val exact = graft.operators.Similarity
          .topK(all.select(col("vec_id").as("id"), col("embedding")), "embedding", "id", qVecs(qid), k)
          .select("id").collect().map(_.getLong(0)).toSet
        IvfIndex.queryTopK(index, model, qVecs(qid), k, nProbe)
          .select("id").collect().map(_.getLong(0)).count(exact.contains)
      }.sum
      hits.toDouble / (queryIds.size * k)
    }
    val staleRecall = recallOf(staleIdx, stale)

    // the governed response: re-fit over old ∪ new, rebuild, re-probe
    val refit = IvfIndex.fit(all, "embedding", k = 8)
    val refitPath = java.nio.file.Files.createTempDirectory("graft-drift-refit").toString
    IvfIndex.writeIndex(IvfIndex.buildIndex(all, "vec_id", "embedding", refit), refitPath)
    val refitRecall = recallOf(spark.read.parquet(refitPath), refit)

    info(s"recall@$k at nProbe=$nProbe: stale=$staleRecall refit=$refitRecall")
    assert(staleRecall < 0.8,
      s"stale-model recall unexpectedly healthy ($staleRecall) — shift not visible at nProbe=$nProbe")
    assert(refitRecall >= 0.8,
      s"post-refit recall did not recover: $refitRecall (stale was $staleRecall)")
    assert(refitRecall > staleRecall,
      s"refit did not improve recall: stale=$staleRecall refit=$refitRecall")
    // and the refreshed model reads the (former) batch as healthy again
    val newBaseline = IvfIndex.meanAssignedCosine(heldOut, "embedding", refit)
    assert(!IvfIndex.driftCheck(batch, "embedding", refit, newBaseline).refitRecommended,
      "re-fit model still flags the batch it was trained on")
  }

  // ==== round-19: the persisted bucket modulus (VERDICT r18 "missing" #2) ====

  // tamper through the hadoop FS (java.nio would desync the local-FS
  // .crc sidecar and reads would fail on ChecksumException, not our guard)
  private def writeMetaRaw(path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_meta")
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def recordedMeta(path: String): Option[Map[String, Int]] =
    MetaSidecar.read(spark, path, MetaSidecar.DefaultName)

  private def tamperMeta(path: String, buckets: Int): Unit =
    writeMetaRaw(path,
      s"formatVersion=${IvfIndex.FormatVersion}\nclusterBuckets=$buckets\n")

  test("layout _meta: bucket-modulus mismatch fails LOUDLY on read and append — never a silent candidate subset") {
    val old = embs.filter(col("vec_id") < 150)
    val batch = embs.filter(col("vec_id") >= 150)
    val model = IvfIndex.fit(old, "embedding", k = 8)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-meta").toString
    IvfIndex.writeIndex(IvfIndex.buildIndex(old, "vec_id", "embedding", model), path)
    // the build stamped this build's constants
    assert(recordedMeta(path).contains(Map(
      "formatVersion" -> IvfIndex.FormatVersion, "clusterBuckets" -> IvfIndex.ClusterBuckets)))

    // simulate an artifact written under a DIFFERENT ClusterBuckets: the
    // probe's bucket prune would use the wrong modulus and silently drop
    // candidates — every path-based entry must refuse instead
    tamperMeta(path, buckets = 32)
    val e1 = intercept[graft.core.EngineError](IvfIndex.readIndex(spark, path))
    assert(e1.getMessage.contains("clusterBuckets=32"), e1.getMessage)
    val e2 = intercept[graft.core.EngineError](
      IvfIndex.appendToIndex(batch, path, "vec_id", "embedding", model))
    assert(e2.getMessage.contains("clusterBuckets=32"), e2.getMessage)
    // a corrupt sidecar is loud too (never "assume compatible")
    writeMetaRaw(path, "not=a\nnumber=here\n")
    intercept[graft.core.EngineError](IvfIndex.readIndex(spark, path))

    // matching constants serve again (same files, only the sidecar changed)
    MetaSidecar.stamp(spark, path, IvfIndex.Layout)
    val nProbe = IvfIndex.defaultNProbe(8)
    assert(probeRows(IvfIndex.queryTopK(
      IvfIndex.readIndex(spark, path), model, qVec, 10, nProbe)).nonEmpty)
  }

  test("packed IVF _meta: tampered modulus refuses both precision reads and append; matching serves") {
    import graft.operators.IvfPackedIndex
    val old = embs.filter(col("vec_id") < 150)
    val batch = embs.filter(col("vec_id") >= 150)
    val model = IvfIndex.fit(old, "embedding", k = 8)
    val root = java.nio.file.Files.createTempDirectory("graft-pki-meta").toString
    IvfPackedIndex.build(old, "vec_id", "embedding", model, root)
    tamperMeta(root, buckets = 16)
    intercept[graft.core.EngineError](IvfPackedIndex.readFloat(spark, root))
    intercept[graft.core.EngineError](IvfPackedIndex.readPacked(spark, root))
    intercept[graft.core.EngineError](
      IvfPackedIndex.append(batch, "vec_id", "embedding", model, root))
    MetaSidecar.stamp(spark, root, IvfIndex.Layout)
    IvfPackedIndex.append(batch, "vec_id", "embedding", model, root)
    assert(IvfPackedIndex.readFloat(spark, root).count() == embs.count())
  }

  // ==== round-20: the LSH family's persisted hyperplane config (the last
  // carrier of the format-constant hazard class — VERDICT r19) ====

  test("LSH config _meta: foreign config refuses append and probe; pre-r20 artifact backfills; compact preserves") {
    val old = embs.filter(col("vec_id") < 150)
    val batch = embs.filter(col("vec_id") >= 150)
    val path = java.nio.file.Files.createTempDirectory("graft-lsh-meta").toString
    AnnIndex.writeIndex(AnnIndex.buildIndex(old, "vec_id", "embedding", cfg), path, cfg)
    // the build stamped the full config; the path is now the config record
    val cfgMeta = Map("formatVersion" -> AnnIndex.FormatVersion, "dim" -> cfg.dim,
      "nBits" -> cfg.nBits, "nTables" -> cfg.nTables, "seed" -> cfg.seed)
    assert(recordedMeta(path).contains(cfgMeta))

    // a config differing in ANY field derives foreign hyperplanes: appends
    // would mis-bucket, probes would scan the wrong dirs — both refuse
    val foreign = cfg.copy(seed = cfg.seed + 1)
    val e1 = intercept[graft.core.EngineError](
      AnnIndex.appendToIndex(batch, path, "vec_id", "embedding", foreign))
    assert(e1.getMessage.contains(s"seed=${cfg.seed}")
      && e1.getMessage.contains(s"seed=${foreign.seed}"), e1.getMessage)
    val e2 = intercept[graft.core.EngineError](AnnIndex.readIndex(spark, path, foreign))
    assert(e2.getMessage.contains("hyperplanes"), e2.getMessage)
    // the matching config serves through the validated probe face
    assert(probeRows(AnnIndex.queryTopK(
      AnnIndex.readIndex(spark, path, cfg), qVec, 10, cfg)).nonEmpty)

    // an incomplete sidecar is LOUD (never "assume compatible"), and an
    // unknown formatVersion refuses
    writeMetaRaw(path, "formatVersion=1\ndim=64\n")
    intercept[graft.core.EngineError](AnnIndex.readIndex(spark, path))
    intercept[graft.core.EngineError](AnnIndex.compactIndex(spark, path))
    writeMetaRaw(path, s"formatVersion=99\ndim=${cfg.dim}\nnBits=${cfg.nBits}\n" +
      s"nTables=${cfg.nTables}\nseed=${cfg.seed}\n")
    intercept[graft.core.EngineError](AnnIndex.readIndex(spark, path))

    // the build's record serves again; append probes equal a rebuild over
    // old ∪ new, and the compact rewrite carries the sidecar across the
    // dir swap
    writeMetaRaw(path, cfgMeta.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v\n" }.mkString)
    AnnIndex.appendToIndex(batch, path, "vec_id", "embedding", cfg)
    val viaRebuild = probeRows(
      AnnIndex.queryTopK(AnnIndex.buildIndex(embs, "vec_id", "embedding", cfg), qVec, 10, cfg))
    assert(probeRows(AnnIndex.queryTopK(
      AnnIndex.readIndex(spark, path, cfg), qVec, 10, cfg)) == viaRebuild)
    AnnIndex.compactIndex(spark, path)
    assert(recordedMeta(path).contains(cfgMeta))
    assert(probeRows(AnnIndex.queryTopK(
      AnnIndex.readIndex(spark, path, cfg), qVec, 10, cfg)) == viaRebuild)
  }

  // ==== round-20 review: the tombstone lifecycle's crash/concurrency guards ====

  /** One tombstone family under test: how to build it over its fixture
    * at a path, delete ids from it, compact it, and read its live ids
    * (as `id`), plus its tombstone subdir and its full live-id count.
    */
  private final case class DeleteFamily(name: String, tombstones: String, rows: Long,
                                         build: String => Unit,
                                         delete: (String, Seq[Long]) => Unit,
                                         compact: String => Unit,
                                         liveIds: String => DataFrame)

  private lazy val bm25Docs = {
    import spark.implicits._
    Seq((1L, "common apple banana"), (2L, "common banana cherry"), (3L, "common dog"))
      .toDF("doc_id", "text")
  }

  private lazy val dhashSigs = {
    import spark.implicits._
    Seq.tabulate(30)(i => (i.toLong, i.toLong * 0x9E3779B97F4A7C15L)).toDF("id", "sig")
  }

  private lazy val ivfModel = IvfIndex.fit(embs, "embedding", k = 8)

  private def lshFamily = DeleteFamily("LSH", "_tombstones", embs.count() * cfg.nTables,
    p => AnnIndex.writeIndex(AnnIndex.buildIndex(embs, "vec_id", "embedding", cfg), p, cfg),
    (p, ids) => AnnIndex.deleteFromIndex(spark, p, ids),
    p => AnnIndex.compactIndex(spark, p),
    p => AnnIndex.readIndex(spark, p, cfg).select("id"))

  private def ivfFamily = DeleteFamily("IVF", "_tombstones", embs.count(),
    p => IvfIndex.writeIndex(IvfIndex.buildIndex(embs, "vec_id", "embedding", ivfModel), p),
    (p, ids) => IvfIndex.deleteFromIndex(spark, p, ids),
    p => IvfIndex.compactIndex(spark, p),
    p => IvfIndex.readIndex(spark, p).select("id"))

  private def packedIvfFamily = DeleteFamily("packed IVF", "_tombstones", embs.count(),
    p => graft.operators.IvfPackedIndex.build(embs, "vec_id", "embedding", ivfModel, p),
    (p, ids) => graft.operators.IvfPackedIndex.delete(spark, p, ids),
    p => graft.operators.IvfPackedIndex.compact(spark, p),
    p => graft.operators.IvfPackedIndex.readFloat(spark, p).select("id"))

  private def bm25Family = DeleteFamily("BM25", "tombstones", bm25Docs.count(),
    p => graft.operators.IndexedBm25.build(bm25Docs, "doc_id", "text", p),
    (p, ids) => graft.operators.IndexedBm25.delete(spark, p, ids),
    p => graft.operators.IndexedBm25.compact(spark, p),
    p => graft.operators.IndexedBm25.topK(spark, p, Seq("common", "apple", "dog"), 100)
      .select(col("doc_id").as("id")))

  private def dhashFamily = DeleteFamily("banded dHash", "_tombstones", dhashSigs.count(),
    p => graft.operators.Dedup.buildBandedDHashIndexFromSigs(dhashSigs, p),
    (p, ids) => graft.operators.Dedup.deleteFromDHashIndex(spark, p, ids),
    p => graft.operators.Dedup.compactBandedDHashIndex(spark, p),
    p => graft.operators.Dedup.readBandedDHashFlat(spark, p).select("id"))

  test("deletes refuse while a compact holds the swap lock; a footer-less tombstone husk reads as zero deletions") {
    Seq(lshFamily, ivfFamily, packedIvfFamily, bm25Family, dhashFamily).foreach { f =>
      val path = java.nio.file.Files.createTempDirectory("graft-dellock").toString
      f.build(path)
      // a lock-less tombstone append racing a compact that already listed
      // the sidecar would be neither folded nor carried across the swap —
      // the delete now takes the compact's own lock and fails fast instead
      val lock = new org.apache.hadoop.fs.Path(path + ".lock")
      val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.create(lock, false).close()
      try {
        val err = intercept[graft.core.EngineError](f.delete(path, Seq(1L)))
        assert(err.getMessage.contains("in progress"), s"${f.name}: ${err.getMessage}")
      } finally fs.delete(lock, false)
      // lock released → the delete lands (and the index serves without id 1)
      f.delete(path, Seq(1L))
      assert(f.liveIds(path).filter(col("id") === 1L).isEmpty, f.name)

      // a crashed FIRST delete leaves the sidecar as a footer-less husk:
      // reads must see zero deletions, not fail schema inference forever
      val path2 = java.nio.file.Files.createTempDirectory("graft-husk").toString
      f.build(path2)
      val husk = new org.apache.hadoop.fs.Path(s"$path2/${f.tombstones}/_temporary")
      husk.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(husk)
      assert(f.liveIds(path2).count() == f.rows,
        s"${f.name}: footer-less tombstone husk broke the read")
    }
  }

  test("compact refuses to fold away every row; BM25, LSH and IVF keep serving the empty index") {
    // a zero-row partitioned rewrite lands no parquet footers: the
    // promoted tree would fail schema inference at every later read
    Seq(bm25Family, lshFamily, ivfFamily).foreach { f =>
      val path = java.nio.file.Files.createTempDirectory("graft-alldel").toString
      f.build(path)
      f.delete(path, f.liveIds(path).distinct().collect().map(_.getLong(0)).toSeq)
      assert(f.liveIds(path).isEmpty, s"${f.name}: merge-on-read left rows")
      val err = intercept[graft.core.EngineError](f.compact(path))
      assert(err.getMessage.contains("tombstoned"), s"${f.name}: ${err.getMessage}")
      // the refusal changed nothing: the index still reads, as empty
      assert(f.liveIds(path).isEmpty, s"${f.name}: unreadable after the refusal")
    }
  }

  /** One family's `_meta` contract under test: how to build it fresh at
    * a path, read (or probe) it, append a batch to it, and which recorded
    * constant a foreign build would disagree on.
    */
  private final case class SidecarFamily(name: String, key: String,
                                          build: String => Unit,
                                          read: String => Unit,
                                          append: String => Unit)

  private def sidecarFamilies: Seq[SidecarFamily] = {
    import spark.implicits._
    import graft.operators.{Dedup, IndexedBm25, IvfPackedIndex}
    val vecs = embs.filter(col("vec_id") < 5)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val texts = Seq((9L, "common zebra crossing")).toDF("doc_id", "text")
    Seq(
      SidecarFamily("IVF", "clusterBuckets", ivfFamily.build,
        p => IvfIndex.readIndex(spark, p),
        p => IvfIndex.appendToIndex(vecs, p, "vec_id", "embedding", ivfModel)),
      SidecarFamily("packed IVF", "clusterBuckets", packedIvfFamily.build,
        p => IvfPackedIndex.readPacked(spark, p),
        p => IvfPackedIndex.append(vecs, "vec_id", "embedding", ivfModel, p)),
      SidecarFamily("LSH", "seed", lshFamily.build,
        p => AnnIndex.readIndex(spark, p, cfg),
        p => AnnIndex.appendToIndex(vecs, p, "vec_id", "embedding", cfg)),
      SidecarFamily("BM25", "partitions", bm25Family.build,
        p => IndexedBm25.topK(spark, p, Seq("common"), 10),
        p => IndexedBm25.append(texts, "doc_id", "text", p)),
      SidecarFamily("shingle postings", "shingleN",
        p => Dedup.buildPostingsIndex(bm25Docs, "doc_id", "text", n = 2, p),
        p => Dedup.readPostingsIndex(spark, p, 2),
        p => Dedup.appendPostingsIndex(texts, "doc_id", "text", n = 2, p)),
      SidecarFamily("banded dHash", "keyBuckets", dhashFamily.build,
        p => Dedup.sigDupIdsVsBandedIndex(dhashSigs, p, 6),
        p => Dedup.appendBandedDHashSigs(dhashSigs.limit(1), p)))
  }

  test("_meta, every family: a fresh build serves; a missing or foreign sidecar refuses read and append") {
    sidecarFamilies.foreach { f =>
      val path = java.nio.file.Files.createTempDirectory("graft-sidecar").toString
      f.build(path)
      f.read(path)
      val recorded = recordedMeta(path).getOrElse(fail(s"${f.name}: build wrote no _meta"))
      val meta = new org.apache.hadoop.fs.Path(s"$path/_meta")
      meta.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(meta, false)
      for (op <- Seq(f.read, f.append)) {
        val e = intercept[graft.core.EngineError](op(path))
        assert(e.getMessage.contains(path) && e.getMessage.contains("rebuild"),
          s"${f.name}: ${e.getMessage}")
      }
      // a build under a different constant: the error names both values
      val v = recorded(f.key)
      writeMetaRaw(path,
        recorded.updated(f.key, v + 1).map { case (k, x) => s"$k=$x\n" }.mkString)
      for (op <- Seq(f.read, f.append)) {
        val e = intercept[graft.core.EngineError](op(path))
        assert(e.getMessage.contains(s"${f.key}=${v + 1}") &&
          e.getMessage.contains(s"${f.key}=$v"), s"${f.name}: ${e.getMessage}")
      }
    }
  }

  test("packed IVF: all-tombstoned compact refuses; replayed drift checks never double-count (r20 review)") {
    import graft.operators.IvfPackedIndex
    val old = embs.filter(col("vec_id") < 150)
    val batch = embs.filter(col("vec_id") >= 150 && col("vec_id") < 170)
    val model = IvfIndex.fit(old, "embedding", k = 8)
    val root = java.nio.file.Files.createTempDirectory("graft-pki-empty").toString
    IvfPackedIndex.build(old, "vec_id", "embedding", model, root)

    // baseline far above any real batch mean → every checked batch is
    // DEGRADED; the tagged replay must not bump the counter again
    IvfPackedIndex.append(batch, "vec_id", "embedding", model, root,
      idempotencyTag = Some("r20drift:0"), driftBaseline = Some(1.0))
    val once = IvfPackedIndex.readDriftStatus(spark, root)
    assert(once.exists(d => d.degradedBatches == 1 && d.lastRefitRecommended), s"$once")
    IvfPackedIndex.append(batch, "vec_id", "embedding", model, root,
      idempotencyTag = Some("r20drift:0"), driftBaseline = Some(1.0)) // replay
    assert(IvfPackedIndex.readDriftStatus(spark, root)
      .exists(_.degradedBatches == 1),
      "at-least-once replay double-counted the degraded batch")

    // tombstone EVERY id, then compact: the fold would write a
    // footer-less sole epoch no read can open — refused loudly
    val ids = IvfPackedIndex.readFloat(spark, root)
      .select("id").collect().map(_.getLong(0)).toSeq
    IvfPackedIndex.delete(spark, root, ids)
    assert(IvfPackedIndex.readFloat(spark, root).isEmpty) // merge-on-read: all hidden
    val err = intercept[graft.core.EngineError](IvfPackedIndex.compact(spark, root))
    assert(err.getMessage.contains("tombstoned"), err.getMessage)
    // the index stays servable (empty) — the refusal changed nothing
    assert(IvfPackedIndex.readFloat(spark, root).isEmpty)
  }
}
