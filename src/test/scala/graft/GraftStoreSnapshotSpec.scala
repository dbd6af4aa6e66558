package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Bm25, HashingEmbedder, Similarity, TextAnalysis}
import graft.store.{DocStore, GraftStore}

/** The resident snapshot behind [[GraftStore]] answers every read verb
  * exactly as a cold read of the files would, through own writes from two
  * handles, outside appends and swaps, compactions and the memory cap.
  */
class GraftStoreSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val embedder = HashingEmbedder(16)
  private def freshPath(): String =
    Files.createTempDirectory("graft-snapshot").resolve("docs.parquet").toString
  private def cold(path: String): DataFrame =
    spark.read.schema(Tables.documentStoreSchema).parquet(path)

  private val helper = new AdaptiveSparkPlanHelper {}
  private def plan(df: DataFrame): SparkPlan = { df.collect(); df.queryExecution.executedPlan }
  private def fileScans(df: DataFrame): Int =
    helper.collect(plan(df)) { case f: FileSourceScanExec => f }.size
  /** The snapshot scans of `df`'s plan, by relation. */
  private def snapshotScans(df: DataFrame): Seq[AnyRef] =
    helper.collect(plan(df)) { case r: RowDataSourceScanExec => r.relation }
  /** Persisted RDDs: a resident snapshot's checkpoint is one of them. */
  private def checkpoints(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  // ---- each read verb over a given frame, planned as GraftStore plans it
  private val Payload = Seq("text", "metadata")
  private def terms(q: String) = q.trim.split("\\s+").filter(_.nonEmpty).distinct.toSeq
  private def vectorTopK(t: DataFrame, q: String, k: Int) =
    Similarity.topK(t, "embedding", "id", embedder.embedOne(q), k)
      .select(col("id"), col("score"), col("text"), col("metadata"))
  private def search(t: DataFrame, q: String, k: Int) =
    Bm25.topKCarrying(t, "id", "text", terms(q), k, Payload)
      .select(col("doc_id").as("id"), col("score"), col("text"), col("metadata"))
  private def hybrid(t: DataFrame, q: String, k: Int) = {
    val m = math.max(20, k)
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    val sem = vectorTopK(t, q, m).withColumnRenamed("id", "doc_id")
      .withColumn("rank", row_number().over(w))
    val lex = Bm25.topKCarrying(t, "id", "text", terms(q), m, Payload)
      .withColumn("rank", row_number().over(w))
    Bm25.rrfFuseCarrying(lex, sem, k, Payload)
      .select(col("doc_id").as("id"), col("rrf"), col("text"), col("metadata"))
  }
  private def phrase(t: DataFrame, q: String, k: Int) =
    t.select(col("id"), TextAnalysis.phrasePositions(col("text"), terms(q)).as("__p"),
        col("text"), col("metadata"))
      .select(col("id"), size(col("__p")).cast("long").as("n_hits"),
        coalesce(array_min(col("__p")), lit(0)).cast("long").as("first_pos"),
        col("text"), col("metadata"))
      .filter(col("n_hits") > 0).orderBy(desc("n_hits"), col("id")).limit(k)
  private def list(t: DataFrame) =
    DocStore.listDocuments(t, "created_at", "id", 50, 0, includeText = true, "text", 100)

  /** (query text, k): a cut inside a tie, the whole store, a short list. */
  private val queries = Seq("apple pie" -> 3, "pie crust river" -> 50, "banana" -> 5)

  /** Every read verb of each store equals the same verb over a cold read. */
  private def coherent(step: String, path: String, stores: GraftStore*): Unit = {
    val t = cold(path)
    val ids = t.select("id").as[Long].collect().sorted
    val gets = ids.take(1) ++ ids.takeRight(1) :+ 99999L
    val want: Seq[(String, Seq[Row])] = queries.flatMap { case (q, k) => Seq(
        s"query($q, $k)" -> vectorTopK(t, q, k), s"search($q, $k)" -> search(t, q, k),
        s"hybrid($q, $k)" -> hybrid(t, q, k), s"phrase($q, $k)" -> phrase(t, q, k))
      }.map { case (verb, df) => verb -> df.collect().toSeq } ++
      gets.map(id => s"get($id)" -> t.filter(col("id") === id).collect().toSeq) ++
      Seq("count" -> Seq(Row(t.count())), "list" -> list(t).collect().toSeq)
    for (store <- stores) {
      val got = queries.flatMap { case (q, k) => Seq(store.query(q, k), store.searchKeyword(q, k),
          store.queryHybrid(q, k), store.searchPhrase(q, k)).map(_.collect().toSeq)
        } ++ gets.map(id => store.getDocument(id).toSeq) ++
        Seq(Seq(Row(store.countDocuments())), store.listDocuments().collect().toSeq)
      for (((verb, w), g) <- want.zip(got))
        assert(g == w, s"after $step, $verb:\n got  $g\n want $w")
    }
  }

  private def outsideRows(from: Long, texts: Seq[String]): DataFrame =
    texts.zipWithIndex.map { case (s, i) => (from + i, s) }.toDF("id", "text")
      .withColumn("metadata", lit(null).cast("string"))
      .withColumn("embedding", embedder.embedCol(col("text")))
      .withColumn("created_at", to_timestamp(lit("2024-01-01 00:00:00")))
      .select("id", "text", "metadata", "embedding", "created_at")

  test("two handles, own writes, outside appends and swaps: every read verb equals a cold read") {
    val path = freshPath()
    val (a, b) = (new GraftStore(spark, path, embedder), new GraftStore(spark, path, embedder))
    def check(step: String): Unit = coherent(step, path, a, b)
    val before = checkpoints()
    def snapshot(): Int = { val Seq(id) = (checkpoints() -- before).toSeq; id }

    // repeated texts make scores tie, so ids decide the order
    DocStore.append(outsideRows(1L, Seq.tabulate(24)(i =>
      Seq("apple pie", "pie crust", "banana split", "river apple pie crust")(i % 4))), path)
    check("the outside seed")
    val first = snapshot()
    assert(snapshotScans(a.table()).size == 1 && fileScans(a.table()) == 0)
    assert(snapshotScans(b.table()) == snapshotScans(a.table()), "two handles on one path share one snapshot")

    a.insert("apple pie", Map("k" -> "a"))
    b.insert("pie crust", Map("k" -> "b", "j" -> "c"))
    a.insert("banana apple")
    check("own inserts")
    assert(snapshot() == first && snapshotScans(b.table()).size == 1 && fileScans(b.table()) == 0,
      "own inserts extend the snapshot without a rebuild or a file read")

    val file = Files.createTempDirectory("graft-snapshot-in").resolve("notes.txt")
    Files.write(file, "apple pie river\n\nbanana crust\n\npie pie pie".getBytes("UTF-8"))
    a.ingestFile(file.toString, Map("src" -> "notes"), maxChars = 16, overlap = 0)
    check("ingestFile")
    DocStore.append(outsideRows(100L, Seq("apple pie", "crust river")), path)
    check("an outside append")
    assert(snapshot() == first && snapshotScans(a.table()).size == 1 && fileScans(a.table()) > 0,
      "appended files are read beside the snapshot, not folded into it")

    assert(b.deleteDocument(3L)) // meets the file-backed delta: dropped, rewritten from files
    check("a delete over a file-backed delta")
    val rebuilt = snapshot() // the first one's blocks are released
    assert(rebuilt != first && fileScans(a.table()) == 0)

    val own = a.insert("apple pie crust")
    assert(b.deleteDocument(own)) // a delta row
    assert(a.deleteDocument(5L)) // a snapshot row
    assert(!a.deleteDocument(5L) && !b.deleteDocument(424242L))
    check("deletes over the resident snapshot")
    assert(snapshot() == rebuilt && fileScans(a.table()) == 0,
      "deletes keep the snapshot behind an id filter")

    // max(id) + 1 draws a deleted largest id again: the new row must show
    val top = a.insert("pie river")
    check("an insert")
    assert(b.deleteDocument(top))
    check("deleting the largest id")
    assert(a.insert("crust banana") == top)
    check("an insert that reuses a deleted id")
    assert(a.getDocument(top).map(_.getString(1)).contains("crust banana"))
    assert(b.deleteDocument(4L))
    check("a delete after the reuse")
    assert(snapshot() == rebuilt && fileScans(a.table()) == 0)

    b.compact()
    check("compact")
    DocStore.compact(spark, path, 2)
    check("an outside compact")
    a.insert("river banana", Map("k" -> "after"))
    check("an insert after the swaps")
  }

  test("a cold spark.read.parquet of the path never answers from the snapshot") {
    val path = freshPath()
    val store = new GraftStore(spark, path, embedder)
    DocStore.append(outsideRows(1L, Seq("apple pie", "pie crust")), path)
    assert(snapshotScans(store.table()).size == 1)
    val plain = spark.read.parquet(path)
    assert(fileScans(plain) == 1 && snapshotScans(plain).isEmpty)
    DocStore.append(outsideRows(3L, Seq("banana")), path)
    assert(spark.read.parquet(path).count() == 3L)
  }

  test("above the cap every read is the cold file read, and the snapshot's blocks are released") {
    val path = freshPath()
    val store = new GraftStore(spark, path, embedder)
    DocStore.append(outsideRows(1L, Seq.fill(12)("apple pie crust")), path)
    val before = checkpoints()
    assert(snapshotScans(store.table()).size == 1)
    val Seq(id) = (checkpoints() -- before).toSeq
    // no free storage: the listed bytes exceed any share of it
    val above = store.table(freeStorage = 0L)
    assert(fileScans(above) == 1 && snapshotScans(above).isEmpty)
    assert(above.collect().toSet == cold(path).collect().toSet)
    assert(!checkpoints().contains(id), "dropped snapshot still holds blocks")
    assert(snapshotScans(store.table(freeStorage = 0L)).isEmpty)
  }

  test("block-manager storage does not grow across 100 writes") {
    val path = freshPath()
    val store = new GraftStore(spark, path, embedder)
    DocStore.append(outsideRows(1L, Seq.tabulate(20)(i => s"seed document $i")), path)
    def storage = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    val rdds = checkpoints()
    store.countDocuments()
    val before = storage
    val Seq(old) = (checkpoints() -- rdds).toSeq
    (1 to 50).foreach { i =>
      val id = store.insert(s"written document $i")
      assert(store.countDocuments() == 21L)
      assert(store.deleteDocument(id - 1))
    }
    assert(storage <= before, s"storage grew from $before to $storage bytes")
    assert(checkpoints() -- rdds == Set(old))
    coherent("100 writes", path, store)
    store.compact()
    store.countDocuments()
    val Seq(next) = (checkpoints() -- rdds).toSeq
    assert(next != old, "a compact releases the snapshot it replaces")
  }

  test("a frame a verb returned stays readable when a write folds the delta into a new checkpoint") {
    val path = freshPath()
    val store = new GraftStore(spark, path, embedder)
    DocStore.append(outsideRows(1L, Seq("apple pie", "pie crust")), path)
    val rdds = checkpoints()
    val held = store.query("apple pie", 50)
    val heldRows = held.collect().toSeq
    val Seq(first) = (checkpoints() -- rdds).toSeq
    // 48 KB rows: the 21st insert passes the 1000 KiB delta limit (one
    // long token keeps the phrase verb's per-position tokenizing cheap)
    val long = "x" * 48000
    (1 to 25).foreach(i => store.insert(s"apple pie $long$i"))
    assert((checkpoints() -- rdds - first).size == 1, "the delta was folded into one new checkpoint")
    assert(!snapshotScans(store.table()).contains(snapshotScans(held).head))
    assert(held.collect().toSeq == heldRows, "a returned frame lost its rows to the fold")
    coherent("a fold", path, store)
  }

  test("a store whose directory is gone releases its snapshot at the next rebuild") {
    val (gone, other) = (freshPath(), freshPath())
    DocStore.append(outsideRows(1L, Seq("apple pie")), gone)
    DocStore.append(outsideRows(1L, Seq("pie crust")), other)
    val rdds = checkpoints()
    new GraftStore(spark, gone, embedder).countDocuments()
    val Seq(id) = (checkpoints() -- rdds).toSeq
    val dir = new org.apache.hadoop.fs.Path(gone)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
    new GraftStore(spark, other, embedder).countDocuments()
    assert(!checkpoints().contains(id), "a deleted store's snapshot still holds blocks")
  }
}
