package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Dedup}

/** Round-11: the shingle-postings index lifecycle and the end-to-end
  * daily-drop rehearsal — the composition invariants the rows-only
  * `pipeline_daily_drop` row can't hash-check.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$Sf0001/documents.parquet")
  private def embs = spark.read.parquet(s"$Sf0001/embeddings.parquet")

  test("postings index: build + append + compact == rebuild, with the cap binding") {
    val cut = docs.count() * 3 / 4
    val cap = 20L
    val corpus = docs.filter(col("doc_id") < cut)
    val batch = docs.filter(col("doc_id") >= cut)
    val path = java.nio.file.Files.createTempDirectory("graft-postings-spec").toString
    Dedup.buildPostingsIndex(corpus, "doc_id", "text", n = 2, path, cap)
    Dedup.appendPostingsIndex(batch, "doc_id", "text", n = 2, path, cap)
    Dedup.compactPostingsIndex(spark, path, cap)
    val appended = Dedup.readPostingsIndex(spark, path)
    val rebuilt = Dedup.shinglePostings(docs, "doc_id", "text", n = 2, cap)
    assert(appended.except(rebuilt).isEmpty && rebuilt.except(appended).isEmpty,
      "append+compact != rebuild")
    // the parity must be non-trivial: the cap has to actually drop
    // something, or this test only exercises file plumbing
    val uncapped = Dedup.shinglePostings(docs, "doc_id", "text", n = 2, Long.MaxValue)
    assert(rebuilt.count() < uncapped.count(), "cap=20 did not bind at sf0.001")
  }

  // round-20: the recorded shingle width — the last member of the
  // format-constant hazard class (shingles of different widths never
  // match, so a mismatched gate admits every duplicate silently)
  test("postings _meta: foreign shingle width refuses append and probe; pre-r20 backfills; compact preserves") {
    def writeMetaRaw(path: String, content: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$path/_meta")
      val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    val cut = docs.count() * 3 / 4
    val corpus = docs.filter(col("doc_id") < cut)
    val batch = docs.filter(col("doc_id") >= cut)
    val path = java.nio.file.Files.createTempDirectory("graft-postings-meta").toString
    def recorded() = graft.store.MetaSidecar.read(spark, path, graft.store.MetaSidecar.DefaultName)
    val width2 = Map("formatVersion" -> Dedup.PostingsFormatVersion, "shingleN" -> 2)
    Dedup.buildPostingsIndex(corpus, "doc_id", "text", n = 2, path)
    assert(recorded().contains(width2))

    val e1 = intercept[graft.core.EngineError](
      Dedup.appendPostingsIndex(batch, "doc_id", "text", n = 3, path))
    assert(e1.getMessage.contains("shingleN=2") && e1.getMessage.contains("shingleN=3"),
      e1.getMessage)
    val e2 = intercept[graft.core.EngineError](Dedup.readPostingsIndex(spark, path, 3))
    assert(e2.getMessage.contains("widths never match"), e2.getMessage)
    // the matching width serves through the validated probe face
    assert(Dedup.readPostingsIndex(spark, path, 2).count() > 0)

    // an incomplete sidecar is LOUD, and an unknown formatVersion refuses
    writeMetaRaw(path, "formatVersion=1\n")
    intercept[graft.core.EngineError](Dedup.readPostingsIndex(spark, path))
    intercept[graft.core.EngineError](Dedup.compactPostingsIndex(spark, path))
    writeMetaRaw(path, "formatVersion=99\nshingleN=2\n")
    intercept[graft.core.EngineError](Dedup.readPostingsIndex(spark, path))

    // a CORRUPT sidecar is repaired by the next stamp (write repairs;
    // reads stay loud)
    writeMetaRaw(path, "garbage")
    intercept[graft.core.EngineError](Dedup.readPostingsIndex(spark, path, 2))
    graft.store.MetaSidecar.write(spark, path, width2.toSeq.sortBy(_._1))
    Dedup.appendPostingsIndex(batch, "doc_id", "text", n = 2, path)
    assert(recorded().contains(width2))

    // the compact swap carries the record across (cap change allowed —
    // the cap is re-appliable by design; the width is not)
    Dedup.compactPostingsIndex(spark, path, maxDocFreq = 50L)
    assert(recorded().contains(width2))
    val rebuilt = Dedup.shinglePostings(docs, "doc_id", "text", n = 2, 50L)
    val appended = Dedup.readPostingsIndex(spark, path, 2)
    assert(appended.except(rebuilt).isEmpty && rebuilt.except(appended).isEmpty,
      "append+compact != rebuild after the meta lifecycle")
  }

  test("postings index feeds jaccardIncremental identically to in-memory postings") {
    val cut = docs.count() * 3 / 4
    val corpus = docs.filter(col("doc_id") < cut)
    val batch = docs.filter(col("doc_id") >= cut)
    val path = java.nio.file.Files.createTempDirectory("graft-postings-spec2").toString
    Dedup.buildPostingsIndex(corpus, "doc_id", "text", n = 2, path)
    val viaIndex = Dedup.jaccardIncremental(batch, "doc_id", "text", n = 2,
        threshold = 0.2, Dedup.readPostingsIndex(spark, path))
      .select("doc_id").as[Long].collect().toSet
    val viaMemory = Dedup.jaccardIncremental(batch, "doc_id", "text", n = 2,
        threshold = 0.2, Dedup.shinglePostings(corpus, "doc_id", "text", 2))
      .select("doc_id").as[Long].collect().toSet
    assert(viaIndex == viaMemory)
  }

  test("daily-drop chain: monotone shrinking, survivors ⊆ batch, re-delivered text never survives") {
    val cut = docs.count() * 3 / 4
    val corpus = docs.filter(col("doc_id") < cut)
    // incoming batch: the fresh quarter PLUS a re-delivery of corpus doc 0
    // under a new id — it must die at stage 1 (exact sha)
    val redelivered = docs.filter(col("doc_id") === 0)
      .withColumn("doc_id", lit(90000L))
    val batch = docs.filter(col("doc_id") >= cut).unionByName(redelivered)
    val batchIds = batch.select(col("doc_id").cast("long")).as[Long].collect().toSet

    val postingsPath = java.nio.file.Files.createTempDirectory("graft-daily-spec").toString
    Dedup.buildPostingsIndex(corpus, "doc_id", "text", n = 2, postingsPath)
    val dedupCfg = AnnIndex.Config(dim = 64, nBits = 4, nTables = 12)
    val lshIdx = AnnIndex.buildIndex(
      embs.filter(col("vec_id") < cut), "vec_id", "embedding", dedupCfg)

    val s1 = Dedup.dedupIncremental(batch, "doc_id", "text",
      Dedup.contentHashes(corpus, "text"))
    val s1Ids = s1.select(col("doc_id").cast("long")).as[Long].collect().toSet
    assert(s1Ids.subsetOf(batchIds), "stage 1 invented rows")
    assert(!s1Ids.contains(90000L), "re-delivered corpus text survived exact dedup")

    val s2 = Dedup.jaccardIncremental(s1, "doc_id", "text", n = 2,
      threshold = 0.2, Dedup.readPostingsIndex(spark, postingsPath))
    val s2Ids = s2.select(col("doc_id").cast("long")).as[Long].collect().toSet
    assert(s2Ids.subsetOf(s1Ids), "stage 2 invented rows")

    val s3 = AnnIndex.dedupIncrementalLSH(
      s2.join(embs.filter(col("vec_id") >= cut), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("embedding")),
      "doc_id", "embedding", lshIdx, threshold = 0.3, dedupCfg)
    val s3Ids = s3.select(col("doc_id").cast("long")).as[Long].collect().toSet
    assert(s3Ids.subsetOf(s2Ids), "stage 3 invented rows")
    assert(s3Ids.nonEmpty, "the whole batch died — thresholds degenerate at this sf")
  }

  test("pipeline_daily_drop reconstructs a fresh chain per call, same result") {
    // Bench honesty (round-12): the chain's lazy evaluation pins
    // materialize on first action, so a session-cached FRAME would make
    // every later count a checkpoint-block scan — the bench would time a
    // cache lookup, not the nightly loop. Only the index builds may be
    // cached; the frame must be rebuilt per invocation.
    val q = SparkEntry.queries("pipeline_daily_drop")
    val f1 = q(spark, Sf0001)
    val f2 = q(spark, Sf0001)
    assert(f1 ne f2,
      "chain frame is session-cached — bench would time a checkpoint scan, not the chain")
    assert(f1.select("doc_id").as[Long].collect().toSeq ==
      f2.select("doc_id").as[Long].collect().toSeq,
      "fresh chains disagree")
  }
}
