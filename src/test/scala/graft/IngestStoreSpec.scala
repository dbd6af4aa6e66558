package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.core.{EngineError, GraftError}
import graft.operators.{HashingEmbedder, Ingest}
import graft.store.GraftStore
import graft.streaming.Streams

/** End-to-end ingest pipeline (O13) + the reference-parity façade. */
class IngestStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): Path = Files.createTempDirectory("graft-ingest")

  private def write(dir: Path, name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  test("ingestFiles: read → validate → chunk → embed → ids → metadata merge") {
    val dir = tmpDir()
    write(dir, "a.md", "para one\n\npara two\n\npara three")
    write(dir, "b.txt", "single paragraph only")
    write(dir, "c.pdf", "should be ignored by the suffix whitelist")

    val out = Ingest.ingestFiles(spark, dir.toString, HashingEmbedder(16),
      existingMaxId = 100L, userMetadata = Map("corpus" -> "unit"),
      chunk = true, maxChars = 12, overlap = 0,
      createdAt = to_timestamp(lit("2024-06-01 00:00:00"))).cache()

    val rows = out.orderBy("id").collect()
    // a.md: 3 paragraphs, maxChars=12 → one chunk each; b.txt: 1 chunk.
    assert(rows.length == 4)
    assert(rows.map(_.getLong(0)).toSeq == Seq(101L, 102L, 103L, 104L))
    assert(rows.forall(_.getSeq[Float](3).length == 16))
    val metas = rows.map(_.getString(2))
    assert(metas.forall(_.contains("\"corpus\":\"unit\"")))
    assert(metas.forall(m => m.contains("\"filename\":") && m.contains("\"source\":")))
    assert(metas.count(_.contains("\"total_chunks\":3")) == 3)
    assert(metas.count(_.contains("\"total_chunks\":1")) == 1)
    assert(rows.forall(_.getTimestamp(4) == Timestamp.valueOf("2024-06-01 00:00:00")))
    out.unpersist()
  }

  test("ingestFiles: malformed UTF-8 fails the job (vectolite.py:500-504)") {
    val dir = tmpDir()
    Files.write(dir.resolve("bad.txt"), Array[Byte](0x68, 0x69, 0xC3.toByte, 0x28))
    val ex = intercept[Exception] {
      Ingest.ingestFiles(spark, dir.toString, HashingEmbedder(8)).collect()
    }
    def chain(t: Throwable): List[Throwable] = if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(ex).exists(e => e.isInstanceOf[GraftError] ||
      (e.getMessage != null && e.getMessage.contains("UTF-8"))))
  }

  test("validatePath: missing file / directory / bad suffix all reject") {
    val dir = tmpDir()
    intercept[EngineError](Ingest.validatePath(dir.resolve("nope.txt").toString))
    intercept[EngineError](Ingest.validatePath(dir.toString))
    val pdf = write(dir, "x.pdf", "data")
    intercept[EngineError](Ingest.validatePath(pdf))
  }

  test("GraftStore: the reference verb surface end-to-end") {
    val store = new GraftStore(spark,
      tmpDir().resolve("docs.parquet").toString, HashingEmbedder(16))

    // insert returns sequential ids (lastrowid parity)
    assert(store.insert("spark engines like big joins", Map("k" -> "v")) == 1L)
    assert(store.insert("ducks like ponds and bread") == 2L)
    assert(store.countDocuments() == 2L)

    // query: self-similar text ranks first, output shape (id, score, text, metadata)
    val hits = store.query("spark engines like big joins", topK = 2).collect()
    assert(hits.length == 2)
    assert(hits.head.getLong(0) == 1L)
    assert(hits.head.getDouble(1) > hits.last.getDouble(1))

    // point lookup + list
    assert(store.getDocument(2L).map(_.getAs[String]("text")).contains("ducks like ponds and bread"))
    assert(store.getDocument(99L).isEmpty)
    assert(store.listDocuments(limit = 1, offset = 1).count() == 1)

    // ingest a file, ids continue
    val dir = tmpDir()
    val f = write(dir, "doc.md", "alpha\n\nbeta")
    val ids = store.ingestFile(f, chunk = true, maxChars = 4, overlap = 0)
    assert(ids == Seq(3L, 4L))
    assert(store.countDocuments() == 4L)

    // delete: true once, false after; copy-on-write leaves 3 rows
    assert(store.deleteDocument(1L))
    assert(!store.deleteDocument(1L))
    assert(store.countDocuments() == 3L)

    // stats
    val (n, bytes) = store.stats()
    assert(n == 3L && bytes > 0L)

    // validation parity
    intercept[EngineError](store.insert("   "))
    intercept[EngineError](store.query("ok", topK = 0))
  }

  test("GraftStore: keyword search + hybrid fusion verbs") {
    val store = new GraftStore(spark,
      tmpDir().resolve("docs.parquet").toString, HashingEmbedder(16))
    store.insert("ducks like ponds and bread crumbs")
    store.insert("spark engines shuffle partitions and join tables")
    store.insert("ponds freeze in winter")

    // keyword: term-bearing docs only, most matches first, query shape
    val kw = store.searchKeyword("ponds bread", topK = 3).collect()
    assert(kw.map(_.getLong(0)).toSeq == Seq(1L, 3L), kw.toSeq) // doc 2 has neither term
    assert(kw.head.getDouble(1) > kw.last.getDouble(1)) // two terms beat one
    assert(kw.head.getAs[String]("text").contains("ducks"))

    // hybrid: fuses both rankings; a doc scoring in both lists leads
    val hy = store.queryHybrid("ponds bread", topK = 3).collect()
    assert(hy.nonEmpty && hy.map(_.getLong(0)).contains(1L))
    assert(hy.map(_.getDouble(1)).toSeq == hy.map(_.getDouble(1)).sorted.reverse.toSeq)

    intercept[EngineError](store.searchKeyword("  ", 3))
    intercept[EngineError](store.queryHybrid("ok", 0))

    // phrase: contiguous sequence only — "ponds and" hits doc 1, not the
    // doc that has both words non-adjacent ("ponds freeze...")
    val ph = store.searchPhrase("ponds and", topK = 3).collect()
    assert(ph.map(_.getLong(0)).toSeq == Seq(1L), ph.toSeq)
    assert(ph.head.getLong(1) == 1L && ph.head.getLong(2) == 3L) // 1-based pos of "ponds"
    assert(store.searchPhrase("bread ponds", 3).isEmpty) // wrong order ≠ match
    intercept[EngineError](store.searchPhrase("  ", 3))
    intercept[EngineError](store.searchPhrase("ok", 0))
  }

  test("GraftStore: one snapshot per verb — 1 job per query, no join-back, indexed-probe answers") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.expressions.Window
    val store = new GraftStore(spark,
      tmpDir().resolve("docs.parquet").toString, HashingEmbedder(16))
    // repeated texts: BM25 and cosine scores tie, so ids break the ties
    val docs = Seq("apple pie" -> Map("k" -> "a"), "apple pie" -> Map.empty[String, String],
      "apple tart" -> Map("k" -> "c"), "banana split" -> Map.empty[String, String],
      "apple pie" -> Map("k" -> "e"), "pie crust" -> Map.empty[String, String])
    // five documents in one compacted file, then one insert: the resident
    // snapshot is checkpointed from the file, and the sixth row is its delta
    docs.init.foreach { case (t, m) => store.insert(t, m) }
    store.compact()
    store.insert(docs.last._1, docs.last._2)
    val q = "apple pie"

    // query: one Spark job, the top-k itself (no schema-inference job);
    // getDocument: one job for a hit and for a miss (no partition-by-
    // partition limit scan). Jobs are counted by a tag local to this
    // thread, so a late event from an earlier action cannot land in the
    // count.
    def jobsOf(verb: String)(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (js.properties.getProperty("graft.test.verb") == verb) jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        spark.sparkContext.setLocalProperty("graft.test.verb", verb)
        body
        spark.sparkContext.setLocalProperty("graft.test.verb", null)
        // listener events are async — wait for them to drain, bounded
        val deadline = System.nanoTime() + 5000000000L
        while (jobs.get < 1 && System.nanoTime() < deadline) Thread.sleep(50)
        Thread.sleep(300) // catch any straggler job this would make > 1
        jobs.get
      } finally {
        spark.sparkContext.setLocalProperty("graft.test.verb", null)
        spark.sparkContext.removeSparkListener(listener)
      }
    }
    val queryJobs = jobsOf("query")(store.query(q, 2).collect())
    assert(queryJobs == 1, s"query ran $queryJobs jobs")
    for (id <- Seq(1L, 6L, 99L)) {
      val getJobs = jobsOf(s"get $id")(
        assert(store.getDocument(id).map(_.getLong(0)) == Some(id).filter(_ <= 6L)))
      assert(getJobs == 1, s"getDocument($id) ran $getJobs jobs")
    }

    // leaves and joins of the executed (final adaptive) plans
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case s: QueryStageExec => leaves(s.plan)
      case r: ReusedExchangeExec => leaves(r.child)
      case l if l.children.isEmpty => Seq(l)
      case o => o.children.flatMap(leaves)
    }
    // the snapshot is one scan that carries the delta row; every verb
    // reads nothing else — no file, no other cached data
    def snapshotScans(p: SparkPlan): Seq[AnyRef] =
      leaves(p).collect { case r: RowDataSourceScanExec => r.relation }
    val Seq(snapshot) = snapshotScans(store.table().queryExecution.executedPlan)
    def readsOnlySnapshot(p: SparkPlan): Boolean =
      leaves(p).nonEmpty && leaves(p).forall {
        case r: RowDataSourceScanExec => r.relation eq snapshot
        case _ => false
      }
    def fromSnapshot(p: SparkPlan): Boolean =
      p.isInstanceOf[RowDataSourceScanExec] || p.isInstanceOf[FileSourceScanExec]
    def snapshotBelowNoCut(p: SparkPlan): Int = p match {
      case _: TakeOrderedAndProjectExec => 0
      case l if fromSnapshot(l) => 1
      case a: AdaptiveSparkPlanExec => snapshotBelowNoCut(a.executedPlan)
      case s: QueryStageExec => snapshotBelowNoCut(s.plan)
      case r: ReusedExchangeExec => snapshotBelowNoCut(r.child)
      case o => o.children.map(snapshotBelowNoCut).sum
    }
    // a join-back joins a ranked list against the store's rows; the one
    // join allowed to touch an uncut read is the keyless cross join of
    // the one-row BM25 stats
    val helper = new AdaptiveSparkPlanHelper {}
    def joinsBack(p: SparkPlan): Seq[SparkPlan] = helper.collect(p) {
      case j: BaseJoinExec if !(j.isInstanceOf[BroadcastNestedLoopJoinExec] &&
          j.leftKeys.isEmpty && j.condition.isEmpty) &&
          j.children.exists(snapshotBelowNoCut(_) > 0) => j
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
        Option(r.getString(3)))).toSeq

    val search = store.searchKeyword(q, 2)
    val searchRows = rows(search)
    val searchPlan = search.queryExecution.executedPlan
    assert(readsOnlySnapshot(searchPlan), s"search reads beyond the snapshot:\n$searchPlan")
    assert(joinsBack(searchPlan).isEmpty, s"search joins back:\n$searchPlan")
    val hybrid = store.queryHybrid(q, 3)
    val hybridRows = rows(hybrid)
    val hybridPlan = hybrid.queryExecution.executedPlan
    assert(readsOnlySnapshot(hybridPlan), s"hybrid reads beyond the snapshot:\n$hybridPlan")
    assert(joinsBack(hybridPlan).isEmpty, s"hybrid joins back:\n$hybridPlan")

    // the same answers from the persisted index over the same table,
    // with text and metadata joined here
    val idx = tmpDir().resolve("bm25").toString
    graft.operators.IndexedBm25.build(store.table(), "id", "text", idx)
    val payload = store.table().select(col("id").as("doc_id"), col("text"), col("metadata"))
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    def withPayload(list: org.apache.spark.sql.DataFrame, score: String) =
      list.join(payload, Seq("doc_id")).orderBy(col(score).desc, col("doc_id"))
        .select(col("doc_id"), col(score), col("text"), col("metadata"))
    def lexical(k: Int) =
      graft.operators.IndexedBm25.topK(spark, idx, q.split(" ").toSeq, k)
    assert(searchRows == rows(withPayload(lexical(2), "score")))
    assert(searchRows.map(_._1) == Seq(1L, 2L), searchRows) // a 3-way tie, cut by id
    val semantic = store.query(q, 20).select(col("id").as("doc_id"), col("score"))
    val fused = graft.operators.Bm25.rrfFuse(
      lexical(20).withColumn("rank", row_number().over(w)),
      semantic.withColumn("rank", row_number().over(w)), 3)
    assert(hybridRows == rows(withPayload(fused, "rrf")))
  }

  test("GraftStore: one JVM's writers are serialized per store — distinct ids, no insert lost to a delete") {
    val path = tmpDir().resolve("docs.parquet").toString
    // two instances on one path: the writer monitor is keyed by the path
    val stores = Seq.fill(2)(new GraftStore(spark, path, HashingEmbedder(8)))
    def inParallel(bodies: (() => Unit)*): Unit = {
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = bodies.map(f => new Thread(() =>
        try f() catch { case t: Throwable => errors.add(t) }))
      threads.foreach(_.start())
      threads.foreach(_.join())
      Option(errors.peek()).foreach(e => throw e)
    }
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    inParallel(stores.map(s => () =>
      (1 to 20).foreach(i => ids.add(s.insert(s"writer document $i")))): _*)
    assert(ids.size == 40 && ids.toArray.toSet.size == 40, ids)
    assert(stores.head.countDocuments() == 40L)

    // inserts racing a delete loop: every insert survives the rewrites
    val added = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    inParallel(
      () => (1 to 10).foreach(i => added.add(stores(0).insert(s"late document $i"))),
      () => (1L to 20L).foreach(id => assert(stores(1).deleteDocument(id), s"delete $id")))
    val left = stores.head.table().select("id").as[Long].collect().toSet
    assert(added.size == 10 && added.toArray.toSet.size == 10, added)
    assert(left == (21L to 40L).toSet ++ added.toArray.map(_.asInstanceOf[Long]),
      s"inserted ${added} but the store holds ${left.toSeq.sorted}")
  }

  test("compact: collapses append files, preserves data, keeps sort column pruneable") {
    val dir = tmpDir().resolve("store.parquet").toString
    val store = new GraftStore(spark, dir, HashingEmbedder(8))
    (1 to 6).foreach(i => store.insert(s"document number $i"))
    def dataFiles = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(dataFiles >= 6) // one append per insert → small-files problem
    val before = spark.read.parquet(dir).orderBy("id").collect().map(_.getLong(0)).toSeq

    graft.store.DocStore.compact(spark, dir, targetFiles = 1)
    assert(dataFiles == 1)
    val after = spark.read.parquet(dir).orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(after == before)
    assert(store.countDocuments() == 6)
  }

  test("JSONL export/import round-trips the canonical store schema losslessly") {
    val dir = tmpDir()
    val store = new GraftStore(spark, dir.resolve("store.parquet").toString, HashingEmbedder(8))
    store.insert("first document here", Map("k" -> "v"))
    store.insert("second document here")
    val original = store.table()

    val dump = dir.resolve("dump.jsonl").toString
    graft.store.DocStore.exportJsonl(original, dump)
    val back = graft.store.DocStore.importJsonl(spark, dump)

    // same names + types (nullability flags differ through JSON by nature)
    assert(back.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq ==
      graft.core.Tables.documentStoreSchema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq)
    val o = original.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getSeq[Float](3), r.getTimestamp(4)))
    val b = back.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getSeq[Float](3), r.getTimestamp(4)))
    assert(b.toSeq == o.toSeq) // incl. created_at to MICROSECOND precision
    // metadata of doc 2 is null end-to-end (all-null columns must survive)
    assert(back.filter(col("id") === 2).head.isNullAt(2))
  }

  test("stateful sessionizer (flatMapGroupsWithState) matches window sessionize on closed sessions") {
    def ts(s: String) = Timestamp.valueOf(s)
    val evs = Seq(
      Streams.Ev(1L, ts("2024-01-01 10:00:00")),
      Streams.Ev(1L, ts("2024-01-01 10:10:00")),
      Streams.Ev(1L, ts("2024-01-01 11:00:00")), // closes session 1 (2 events)
      Streams.Ev(1L, ts("2024-01-01 12:30:00")), // closes session 2 (1 event)
      Streams.Ev(2L, ts("2024-01-01 09:00:00"))
    ).toDS()
    val closed = Streams.sessionizeStateful(evs, gapMinutes = 30)
      .collect().map(c => (c.user_id, c.session_seq, c.n_events)).toSet
    // in-flight sessions (user1 seq3, user2 seq1) stay in state, unemitted
    assert(closed == Set((1L, 1L, 2L), (1L, 2L, 1L)))
  }
}
