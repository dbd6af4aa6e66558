package graft

import org.apache.spark.sql.functions._

import graft.store.DocStore

class DocStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$Sf0001/documents.parquet")

  test("assignIds: dense, ordered, starting after startId") {
    val batch = Seq("b", "a", "c").toDF("text")
    val ids = DocStore.assignIds(batch, Seq(col("text")), 100L)
      .select("id", "text").as[(Long, String)].collect().sortBy(_._1)
    assert(ids.toSeq == Seq((101L, "a"), (102L, "b"), (103L, "c")))
  }

  test("assignIdsOrdered: key-ordered dense ids, no single-partition window") {
    val batch = (1 to 1000).map(i => f"t$i%04d").toDF("text").repartition(7)
    val out = DocStore.assignIdsOrdered(batch, Seq(col("text")), 500L)
      .select("id", "text").as[(Long, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == (501L to 1500L))
    // ids follow text order exactly — same contract as the window form
    assert(out.map(_._2).toSeq == out.map(_._2).sorted.toSeq)
    // physical plan must not contain a global (non-partitioned) Window
    val plan = DocStore.assignIdsOrdered(batch, Seq(col("text")), 500L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window in plan:\n$plan")
  }

  test("assignIdsOrdered: repeated ingest calls leave nothing persisted (round-8 leak fix)") {
    // Round 7 persisted the arranged batch MEMORY_AND_DISK and never
    // unpersisted — each call pinned another copy in the block manager.
    // Consistency now comes from shuffle-file reuse instead, so repeated
    // calls must not grow the persistent-RDD registry at all.
    val before = spark.sparkContext.getPersistentRDDs.size
    (1 to 5).foreach { i =>
      val batch = (1 to 200).map(j => f"call$i%02d-t$j%04d").toDF("text").repartition(5)
      val out = DocStore.assignIdsOrdered(batch, Seq(col("text")), 1000L * i)
        .select("id", "text").as[(Long, String)].collect().sortBy(_._1)
      assert(out.map(_._1).toSeq == (1000L * i + 1 to 1000L * i + 200))
      assert(out.map(_._2).toSeq == out.map(_._2).sorted.toSeq)
    }
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      s"assignIdsOrdered leaked persisted RDDs: ${spark.sparkContext.getPersistentRDDs}")
  }

  test("replaceContents: create-exclusive lock rejects a second writer, cleans up after itself") {
    val dir = java.nio.file.Files.createTempDirectory("graft-swap")
      .resolve("store.parquet").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "text").write.parquet(dir)
    val lockFile = new java.io.File(dir + ".lock")

    // Contended path: a held lock (another writer mid-swap, or a crashed
    // one) must fail fast WITHOUT touching the live store or the lock.
    assert(lockFile.createNewFile())
    val next = Seq((3L, "c")).toDF("id", "text")
    val err = intercept[graft.core.EngineError] {
      DocStore.replaceContents(spark, dir, next)
    }
    assert(err.getMessage.contains("single-writer"))
    assert(lockFile.exists(), "a contended swap must not delete the other writer's lock")
    assert(spark.read.parquet(dir).count() == 2L, "contended swap must leave the store untouched")

    // Uncontended path: swap succeeds and removes its own lock.
    assert(lockFile.delete())
    DocStore.replaceContents(spark, dir, next)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSeq == Seq((3L, "c")))
    assert(!lockFile.exists(), "successful swap must remove its lock sentinel")
  }

  test("append: two threads appending to one fresh path lose no row and never throw") {
    val path = java.nio.file.Files.createTempDirectory("graft-append")
      .resolve("store.parquet").toString
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = Seq(0L, 1000L).map(base => new Thread(() =>
      try (1 to 20).foreach { b =>
        val ids = (1 to 5).map(i => base + b * 10 + i)
        DocStore.append(ids.map(i => (i, s"row $i")).toDF("id", "text").repartition(2), path)
      } catch { case t: Throwable => errors.add(t) }))
    writers.foreach(_.start())
    writers.foreach(_.join())
    assert(errors.isEmpty, errors.toArray.mkString("\n"))
    val expected = for (base <- Seq(0L, 1000L); b <- 1 to 20; i <- 1 to 5) yield base + b * 10 + i
    assert(spark.read.parquet(path).as[(Long, String)].collect().map(_._1).sorted.toSeq == expected.sorted)
    // staging lives beside the store and is gone once each append returns
    val parent = new java.io.File(path).getParentFile
    assert(parent.list().toSeq == Seq("store.parquet"), parent.list().toSeq)
  }

  test("getDocument: single row or empty (vectolite.py:268-298)") {
    assert(DocStore.getDocument(docs, "doc_id", 42L).count() == 1)
    assert(DocStore.getDocument(docs, "doc_id", 424242L).count() == 0)
  }

  test("deleteByIds removes exactly the ids; deleteCount mirrors rowcount") {
    val left = DocStore.deleteByIds(docs, "doc_id", Seq(1L, 2L, 3L))
    assert(left.count() == docs.count() - 3)
    assert(DocStore.deleteCount(docs, "doc_id", Seq(1L, 2L, 999999L)) == 2L)
    val viaDf = DocStore.deleteByIds(docs, "doc_id", Seq(1L, 2L, 3L).toDF("doc_id"))
    assert(viaDf.count() == docs.count() - 3)
  }

  test("listDocuments: pagination window + truncation semantics (vectolite.py:201-266)") {
    val page = DocStore.listDocuments(docs, "doc_id", "doc_id",
      limit = 10, offset = 5, includeText = true, maxTextLength = 50)
    val rows = page.select("doc_id", "display_text", "full_text_length")
      .as[(Long, String, Int)].collect()
    assert(rows.length == 10)
    // offset 5 of desc order over ids 0..499 → first id is 494
    assert(rows.map(_._1).max == 494L)
    rows.foreach { case (_, disp, full) =>
      if (full > 50) assert(disp.length == 53 && disp.endsWith("..."))
      else assert(!disp.endsWith("..."))
    }
  }

  test("displayText adds ellipsis only when longer than max (vectolite.py:240-251)") {
    val df = Seq("short", "x" * 60).toDF("t")
      .select(DocStore.displayText(col("t"), 10).as("d"))
    val out = df.as[String].collect()
    assert(out(0) == "short")
    assert(out(1) == "x" * 10 + "...")
  }

  test("metadata pack/extract round-trip; NULL collapses to empty object") {
    val df = Seq((1L, "en", "web")).toDF("id", "lang", "source")
      .select(col("id"), DocStore.packMetadata(col("lang"), col("source")).as("m"))
    assert(df.select(DocStore.metadataField(col("m"), "lang")).as[String].head == "en")
    val nullMeta = Seq(1L).toDF("id").withColumn("m", lit(null).cast("string"))
    assert(nullMeta.select(DocStore.metadataField(col("m"), "lang")).head.isNullAt(0))
  }

  test("bucketed tables join with NO exchange on either side") {
    val orders = spark.read.parquet(s"$Sf0001/orders.parquet")
    val customer = spark.read.parquet(s"$Sf0001/customer.parquet")
      .withColumnRenamed("c_custkey", "o_custkey")
    graft.store.Bucketing.writeBucketed(orders, "b_orders", "o_custkey", 4)
    graft.store.Bucketing.writeBucketed(customer, "b_customer", "o_custkey", 4)
    // disable auto-broadcast so the bucketed sort-merge path (the one that
    // matters when BOTH sides are huge) is what gets planned
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = graft.store.Bucketing.cogroupJoin(spark, "b_orders", "b_customer", "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      assert(!plan.contains("Exchange"), plan.take(800)) // co-located: zero shuffle
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("stats reports document count and on-disk size") {
    val st = DocStore.stats(spark, docs, s"$Sf0001/documents.parquet").head
    assert(st.getLong(0) == 500L)
    assert(st.getLong(1) > 0L)
  }
}
