package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, IvfPackedIndex}

/** Lifecycle + crash contracts of the PERSISTED packed-IVF index
  * (round-16; VERDICT r15 next #2): the byte-packed serving sidecar on
  * disk must behave exactly like its per-session derivation — through
  * append, a crash mid-append, delete, and compact.
  */
class IvfPackedIndexSpec extends SparkSpec {
  import spark.implicits._

  // deterministic non-zero vectors; 40 ids × dim 8
  private def embAll: DataFrame =
    Seq.tabulate(40) { i =>
      (i.toLong, (0 until 8).map(j => math.sin(i * 0.7 + j).toFloat))
    }.toDF("vec_id", "embedding")

  private lazy val model = IvfIndex.fit(embAll, "embedding", k = 4)
  private val nProbe = 2
  private val K = 5
  private def q: Array[Float] =
    (0 until 8).map(j => math.cos(j * 0.3).toFloat).toArray

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def probed(df: DataFrame): Seq[(Long, Double)] =
    df.select(col("id").cast("long"), round(col("score"), 9).as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Byte-packed rerank over a fresh in-memory frozen-model build. */
  private def fresh(rows: DataFrame): Seq[(Long, Double)] = {
    val assigned = IvfIndex.buildIndex(rows, "vec_id", "embedding", model)
    probed(IvfIndex.queryTopKPackedRerank(
      IvfIndex.quantizeIndexPacked(assigned), assigned, model, q, K, nProbe))
  }

  private def served(root: String): Seq[(Long, Double)] =
    probed(IvfPackedIndex.queryTopK(spark, root, model, q, K, nProbe))

  test("build + append == frozen-model rebuild; staged-but-uncommitted append is invisible") {
    val root = tmp("graft-ivfp-append")
    val old = embAll.filter(col("vec_id") < 30)
    val batch = embAll.filter(col("vec_id") >= 30)
    IvfPackedIndex.build(old, "vec_id", "embedding", model, root)
    assert(served(root) == fresh(old))

    // CRASH between stage and commit: the batch is fully staged under
    // both data dirs, yet probes and both reads see NONE of it
    IvfPackedIndex.stageBatch(batch, "vec_id", "embedding", model, root)
    assert(served(root) == fresh(old), "uncommitted stage leaked into the probe")
    assert(IvfPackedIndex.readFloat(spark, root).count() == 30)
    assert(IvfPackedIndex.readPacked(spark, root).count() == 30)

    // a real (committed) append of the same rows serves old ∪ new
    IvfPackedIndex.append(batch, "vec_id", "embedding", model, root)
    assert(served(root) == fresh(embAll))
    assert(IvfPackedIndex.readFloat(spark, root).count() == 40)
  }

  test("delete hides ids from BOTH precision forms; compact folds physically") {
    val root = tmp("graft-ivfp-delete")
    IvfPackedIndex.build(embAll.filter(col("vec_id") < 30), "vec_id", "embedding", model, root)
    IvfPackedIndex.append(embAll.filter(col("vec_id") >= 30), "vec_id", "embedding", model, root)
    IvfPackedIndex.delete(spark, root, 0L until 10L)

    val survivors = embAll.filter(col("vec_id") >= 10)
    assert(served(root) == fresh(survivors), "delete != rebuild-without")
    assert(IvfPackedIndex.readFloat(spark, root).count() == 30)
    assert(IvfPackedIndex.readPacked(spark, root).count() == 30)

    val afterDelete = served(root)
    IvfPackedIndex.compact(spark, root)
    assert(served(root) == afterDelete, "compact changed the served ranking")
    assert(graft.store.EpochCommit.committedCount(spark, root) == 1,
      "compact did not collapse the epoch fan-in")
    // tombstones folded physically: the sidecar is gone with the old tree
    val t = new org.apache.hadoop.fs.Path(s"$root/_tombstones")
    val fs = t.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(t), "compact left the tombstone sidecar behind")
    assert(IvfPackedIndex.readFloat(spark, root).count() == 30)
    // post-compact delete still works (fresh sidecar)
    IvfPackedIndex.delete(spark, root, Seq(39L))
    assert(IvfPackedIndex.readPacked(spark, root).count() == 29)
  }

  test("empty batches: append is a no-op epoch-wise; build refuses loudly (r16 advisor)") {
    val root = tmp("graft-ivfp-empty")
    val none = embAll.filter(col("vec_id") < 0)
    // an empty BUILD must not commit an index whose data dirs have no
    // parquet footers — committedOrThrow would pass but reads would fail
    intercept[IllegalArgumentException](
      IvfPackedIndex.build(none, "vec_id", "embedding", model, root))
    IvfPackedIndex.build(embAll.filter(col("vec_id") < 30),
      "vec_id", "embedding", model, root)
    val before = served(root)
    // an empty APPEND (e.g. a first empty streaming micro-batch) neither
    // stages a footer-less epoch nor inflates committedCount
    IvfPackedIndex.append(none, "vec_id", "embedding", model, root)
    assert(graft.store.EpochCommit.committedCount(spark, root) == 1,
      "empty append committed a no-op epoch")
    assert(served(root) == before)
    assert(IvfPackedIndex.readFloat(spark, root).count() == 30)
  }

  test("idempotent append: a replayed batch lands once in BOTH precision forms (r17)") {
    val root = tmp("graft-ivfp-idem")
    IvfPackedIndex.build(embAll.filter(col("vec_id") < 30), "vec_id", "embedding", model, root)
    val batch = embAll.filter(col("vec_id") >= 30)
    IvfPackedIndex.append(batch, "vec_id", "embedding", model, root,
      idempotencyTag = Some("run:b1"))
    val after = served(root)
    assert(after == fresh(embAll))
    // replay: same tag → no-op (both forms unchanged, no extra epoch)
    IvfPackedIndex.append(batch, "vec_id", "embedding", model, root,
      idempotencyTag = Some("run:b1"))
    assert(served(root) == after, "replayed append changed the served ranking")
    assert(IvfPackedIndex.readFloat(spark, root).count() == 40)
    assert(IvfPackedIndex.readPacked(spark, root).count() == 40)
    assert(graft.store.EpochCommit.committedCount(spark, root) == 2)
    // crashed-attempt replay: partial deterministic stage, then retry
    val e = graft.store.EpochCommit.deterministicEpochId("run:b2")
    IvfPackedIndex.stageBatch(
      embAll.filter(col("vec_id") < 5)
        .select((col("vec_id") + 100L).as("vec_id"), col("embedding")),
      "vec_id", "embedding", model, root, Some(e)) // crash before commit
    IvfPackedIndex.append(
      embAll.filter(col("vec_id") < 5)
        .select((col("vec_id") + 100L).as("vec_id"), col("embedding")),
      "vec_id", "embedding", model, root, idempotencyTag = Some("run:b2"))
    assert(IvfPackedIndex.readFloat(spark, root).count() == 45,
      "crashed-stage retry duplicated or lost rows")
  }

  test("served scores are EXACT float cosines of the served ids") {
    val root = tmp("graft-ivfp-exact")
    IvfPackedIndex.build(embAll, "vec_id", "embedding", model, root)
    val got = served(root).toMap
    val direct = probed(
      embAll.select(col("vec_id").as("id"),
        graft.functions.VectorFunctions
          .cosine_sim(col("embedding"), typedlit(q.toSeq)).as("score"))
        .filter(col("id").isin(got.keySet.map(Long.box).toSeq: _*))).toMap
    assert(got == direct, "re-rank served a reconstructed score, not the float cosine")
  }

  /** (bucket, min cluster, max cluster) of every row group in the packed
    * side's data files, read from the parquet footer statistics.
    */
  private def packedRowGroups(root: String): Seq[(Int, Int, Int)] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "packed"))
    val files = try walk.toArray.map(_.toString).filter(_.endsWith(".parquet")).toSeq
      finally walk.close()
    files.flatMap { f =>
      val bucket = f.split("/").find(_.startsWith("bucket=")).get.stripPrefix("bucket=").toInt
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f), spark.sparkContext.hadoopConfiguration))
      try reader.getFooter.getBlocks.asScala.toSeq.map { b =>
        val st = b.getColumns.asScala.find(_.getPath.toDotString == "cluster").get.getStatistics
        (bucket, st.genericGetMin.asInstanceOf[Int], st.genericGetMax.asInstanceOf[Int])
      } finally reader.close()
    }
  }

  test("a few-cluster probe admits fewer packed row groups than its buckets hold (small parquet blocks)") {
    // IvfIndex.bucketized sorts each bucket by (cluster, id), so once a
    // bucket spans several row groups each group's cluster range is tight
    // and the probe's `cluster IN (...)` pushdown skips groups by their
    // footer stats. sf0.001 amplified 48x with per-copy noise, two
    // clusters per bucket and a small parquet.block.size force that
    // geometry at test scale.
    val base = spark.read.parquet(s"$Sf0001/embeddings.parquet").select("vec_id", "embedding")
    val nBase = base.count()
    val corpus = base.select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(47))).as("copy"))
      .select((col("vec_id") + col("copy") * nBase).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + (pmod(xxhash64(col("vec_id"), col("copy"), i), lit(1000L)).cast("float")
            - 500f) / 50000f).cast("float")).as("embedding"))
    val twoPerBucket = IvfIndex.fit(base, "embedding", k = 2 * IvfIndex.ClusterBuckets)
    val root = tmp("graft-ivfp-rowgroups") + "/idx"
    val hconf = spark.sparkContext.hadoopConfiguration
    val saved = Seq("parquet.block.size", "parquet.page.size").map(k => k -> Option(hconf.get(k)))
    try {
      hconf.setInt("parquet.block.size", 4096)
      hconf.setInt("parquet.page.size", 1024)
      IvfPackedIndex.build(corpus, "vec_id", "embedding", twoPerBucket, root)
    } finally saved.foreach { case (k, v) => v.fold(hconf.unset(k))(hconf.set(k, _)) }

    val probes = twoPerBucket.nearestClusters(base.head.getSeq[Float](1).toArray, 4)
    val buckets = probes.map(p => math.floorMod(p, IvfIndex.ClusterBuckets)).toSet
    val touched = packedRowGroups(root).filter { case (b, _, _) => buckets(b) }
    val admitted = touched.filter { case (_, lo, hi) => probes.exists(p => p >= lo && p <= hi) }
    assert(touched.size > buckets.size, s"${touched.size} row groups in ${buckets.size} buckets")
    assert(admitted.size < touched.size,
      s"probe $probes admits all ${touched.size} row groups of its buckets: $touched")
  }
}
