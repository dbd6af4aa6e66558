package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, HashingEmbedder, IvfIndex, IvfPackedIndex}
import graft.store.EpochCommit
import graft.streaming.Streams

/** `stream_drip`: the daily-drop chain run incrementally. Set-up builds a
  * shingle-postings index and a packed IVF index over [[Corpus]]
  * documents (embedded and exact-deduplicated first). Each measured step
  * lands one drop of [[Drop]] documents
  * ([[DupFrac]] of them exact copies of earlier documents) in an arrival
  * directory, drains the novelty gate once, embeds the gate's survivors
  * into the IVF arrival directory, drains the IVF maintainer once, and
  * serves [[ProbesPerDrop]] packed-IVF probes.
  */
final class StreamDrip(ctx: Ctx) extends Workload {
  import StreamDrip._
  import ctx.spark
  import spark.implicits._

  private val embedder = HashingEmbedder(Dim)
  private val gen = ctx.gen
  private val dropRng = gen.rng(80)
  private val queryRng = gen.rng(90)

  // the benchmark's model of what the indexes hold
  private val texts = mutable.ArrayBuffer.empty[String]
  private val indexed = mutable.HashMap.empty[Long, Array[Float]]
  private var nextId = 1L
  private var root: String = _
  private var model: IvfIndex.Model = _
  private var admitted = 0L
  private var arrived = 0L
  private var userBytes = 0.0
  private var recallSum = 0.0
  private var recallN = 0
  private val epochs = mutable.ArrayBuffer.empty[Double]
  private val files = mutable.ArrayBuffer.empty[Double]

  private def postings = s"$root/postings"
  private def ivfRoot = s"$root/ivf"
  private def gateIn = s"$root/arrive-docs"
  private def gateOut = s"$root/gate-out"
  private def ivfIn = s"$root/arrive-vectors"

  def prepare(): Unit = {
    val r = gen.rng(75)
    (0 until Corpus).foreach(_ => texts += gen.doc(r))
  }

  def setup(): Unit = {
    if (root != null) Disk.delete(root)
    root = ctx.newDir("drip")
    // drops landed on a replaced set-up are forgotten
    texts.dropRightInPlace(texts.length - Corpus)
    userBytes = texts.iterator.map(_.getBytes("UTF-8").length + 4.0 * Dim).sum
    val corpus = texts.zipWithIndex.map { case (t, i) => (i + 1L, t) }.toSeq.toDF("id", "text")
    val t = ctx.tracer
    // each stage is materialized inside its span, so its span holds its work
    val emb = t.span("embed") {
      val e = embedder.embed(corpus, "text", "embedding").cache()
      e.count()
      e
    }
    try {
      val kept = t.span("dedup_exact") {
        val k = Dedup.dedupExact(emb, "id", "text").cache()
        k.count()
        k
      }
      try {
        t.span("near_dup")(Dedup.buildPostingsIndex(kept, "id", "text", Shingle, postings))
        model = t.span("ivf_fit")(IvfIndex.fit(kept, "embedding"))
        t.span("ivf_build")(IvfPackedIndex.build(kept, "id", "embedding", model, ivfRoot))
      } finally kept.unpersist()
    } finally emb.unpersist()
    indexed.clear()
    texts.indices.foreach(i => indexed(i + 1L) = embedder.embedOne(texts(i)))
    nextId = texts.length + 1L
    admitted = 0L
    arrived = 0L
  }

  def warm(): Unit = step(-1)

  /** One drop on each replaced set-up: the drains' first few runs in a JVM
    * are markedly slower while the JIT compiles them, and a drop on a
    * replaced set-up warms them without advancing the measured indexes'
    * epochs toward compaction. One such drop alone leaves the first
    * measured drops slow.
    */
  override def warmReplacedSetup(): Unit = step(-1)

  def step(i: Int): Unit = {
    // the drop: novel documents plus exact copies of indexed documents
    val lo = nextId
    val nDup = (Drop * DupFrac).toInt
    val pos = Array.range(0, Drop)
    for (j <- 0 until nDup) {
      val k = j + dropRng.nextInt(Drop - j)
      val t = pos(j); pos(j) = pos(k); pos(k) = t
    }
    val dupAt = pos.take(nDup).toSet
    val indexedIds = indexed.keysIterator.toArray.sorted
    val drop = (0 until Drop).map { j =>
      val id = lo + j
      val t = if (dupAt(j)) texts((indexedIds(dropRng.nextInt(indexedIds.length)) - 1).toInt) else gen.doc(dropRng)
      (id, t)
    }
    nextId += Drop
    drop.foreach { case (_, t) => texts += t }
    val dupIds = drop.filter { case (id, _) => dupAt((id - lo).toInt) }.map(_._1).toSet
    drop.toDF("id", "text").coalesce(1).write.mode("append").parquet(gateIn)
    arrived += Drop
    userBytes += drop.iterator.map(_._2.getBytes("UTF-8").length + 4.0 * Dim).sum

    val t0 = System.nanoTime()
    val ok = ctx.op("gate.drain")(Streams.jaccardGateMaintainAvailableNow(
        spark.readStream.schema("id LONG, text STRING").parquet(gateIn), "id", "text",
        Shingle, Threshold, postings, gateOut, checkpoint = Some(s"$root/ckpt-gate"),
        compactEvery = CompactEvery)).isDefined &&
      ctx.op("embed.hop")(embedder.embed(
          Streams.readGateOutput(spark, gateOut).filter(col("id") >= lo).select("id", "text"),
          "text", "embedding").select("id", "embedding")
        .write.mode("append").parquet(ivfIn)).isDefined &&
      ctx.op("ivf.drain")(Streams.ivfPackedMaintainAvailableNow(
        spark.readStream.schema("id LONG, embedding ARRAY<FLOAT>").parquet(ivfIn), "id", "embedding",
        model, ivfRoot, compactEvery = CompactEvery, checkpoint = Some(s"$root/ckpt-ivf"))).isDefined
    val batchMs = (System.nanoTime() - t0) / 1e6
    if (!ok) return
    if (ctx.recording) ctx.samples += Sample("batch", batchMs, ctx.tracer.active)

    // what the gate let through this step
    val through = Streams.readGateOutput(spark, gateOut).filter(col("id") >= lo)
      .select("id").as[Long].collect().toSet
    admitted += through.size
    through.foreach(id => indexed(id) = embedder.embedOne(texts((id - 1).toInt)))
    val wrong = dupIds.intersect(through) ++ (drop.map(_._1).toSet -- dupIds -- through)
    if (wrong.nonEmpty) ctx.fail(s"gate misjudged ${wrong.size} of the drop's documents, e.g. ${wrong.take(3)}")
    if (ctx.recording) {
      epochs += EpochCommit.committedCount(spark, postings) + EpochCommit.committedCount(spark, ivfRoot)
      files += Disk.dataFiles(postings) + Disk.dataFiles(ivfRoot)
    }

    (0 until ProbesPerDrop).foreach { _ =>
      val q = gen.query(queryRng)
      val qv = embedder.embedOne(q)
      ctx.op("ivf_probe")(IvfPackedIndex.queryTopK(spark, ivfRoot, model, qv, K, nProbe)
          .select("id", "score").collect())
        .foreach { case (res, _) =>
          val got = res.map(r => (r.getLong(0), r.getDouble(1))).toSeq
          val bad = got.exists { case (id, s) => indexed.get(id).forall(v => math.abs(Exact.cosine(v, qv) - s) > Exact.Eps) }
          if (bad || got.length != K) ctx.fail(s"probe '$q' returned $got")
        }
    }
  }

  private def nProbe: Int = IvfIndex.defaultNProbe(model.centroids.length)

  /** Recall of the maintained index: [[RecallQueries]] queries through the
    * batch probe at the end of the run, against exact cosine over every
    * indexed vector.
    */
  private def finalRecall(): Unit = {
    val r = gen.rng(95)
    val qs = Array.fill(RecallQueries)(embedder.embedOne(gen.query(r)))
    val got = IvfPackedIndex.queryTopKBatch(spark, ivfRoot, model,
        qs.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toDF("q_id", "q_emb"),
        "q_id", "q_emb", K, nProbe)
      .select("q_id", "c_id", "score").as[(Long, Long, Double)].collect().groupBy(_._1)
    recallN = qs.length
    recallSum = qs.indices.map { i =>
      val rows = got.getOrElse(i.toLong, Array.empty[(Long, Long, Double)])
      Exact.recall(indexed, qs(i), K, rows.sortBy(x => (-x._3, x._2)).map(_._2).toSeq)
    }.sum
  }

  def finish(): Unit = {
    // a run is shorter than the in-band compaction period, so a traced run
    // compacts both indexes once, out of band, the way a long-running
    // deployment folds its epochs between drains
    if (ctx.tracing) {
      ctx.tracer.active = true
      ctx.op("index.compact") {
        Dedup.compactPostingsIndex(spark, postings)
        IvfPackedIndex.compact(spark, ivfRoot)
      }
      ctx.tracer.active = false
    }
    ctx.verify("packed IVF rows equal corpus plus admitted documents")(
      IvfPackedIndex.readFloat(spark, ivfRoot).count() == Corpus + admitted)
    ctx.verify("batch probe answers every recall query")({ finalRecall(); true })
  }

  private def docsPerS: Double = {
    val batches = ctx.untraced("batch")
    Drop * batches.length / (batches.sum / 1000.0)
  }

  def endToEnd(): Map[String, Double] = Map(
    "read_p50_ms" -> Stats.median(ctx.untraced("ivf_probe")),
    "write_p50_ms" -> Stats.median(ctx.untraced("batch")),
    "items_per_s" -> docsPerS,
    "recall" -> recallSum / math.max(1, recallN),
    "bytes_per_user_byte" -> (Disk.bytes(postings) + Disk.bytes(ivfRoot)) / userBytes)

  def named(): Seq[(String, Double, String)] = Seq(
    ("docs_per_s", docsPerS, "1/s"),
    ("batch_p50_ms", Stats.median(ctx.untraced("batch")), "ms"),
    ("batch_tail_ms", Stats.tail(ctx.untraced("batch")).map(_._2).getOrElse(Double.NaN), "ms"),
    ("probe_p50_ms", Stats.median(ctx.untraced("ivf_probe")), "ms"))

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def perLayer(): Map[String, Double] = {
    val t = ctx.tracer
    Seq("gate" -> "gate.drain", "ivf" -> "ivf.drain").flatMap { case (p, span) =>
      val trigger = t.meanOf(span, "stream.triggerExecution")
      Seq("latestOffset" -> "latest_offset_ms", "walCommit" -> "wal_commit_ms",
        "queryPlanning" -> "query_planning_ms", "addBatch" -> "add_batch_ms",
        "commitOffsets" -> "commit_offsets_ms").map { case (k, n) => s"$p.$n" -> t.meanOf(span, s"stream.$k") } ++
        Seq(s"$p.batches_per_drain" -> t.meanOf(span, "batches"),
          s"$p.start_stop_ms" -> (if (t.meanWallMs(span) == 0) 0.0 else t.meanWallMs(span) - trigger))
    }.toMap ++ Map(
      "index.epochs" -> mean(epochs.toSeq),
      "index.files" -> mean(files.toSeq),
      "index.compact_ms" -> t.meanWallMs("index.compact"),
      "gate.admitted_frac" -> (if (arrived == 0) 0.0 else admitted.toDouble / arrived),
      "probe.rows_scanned" -> t.meanOf("ivf_probe", "input_records")) ++
      PipelineBatch.stageMetrics(t, ctx.cores) ++
      Map("ivf_probe.rows_scanned_per_query" -> t.meanOf("ivf_probe", "input_records"))
  }

  def details(): Map[String, Any] = Map(
    "corpus_docs" -> Corpus, "drop_docs" -> Drop, "dup_frac" -> DupFrac, "compact_every" -> CompactEvery,
    "steps" -> ctx.untraced("batch").length, "admitted" -> admitted, "arrived" -> arrived,
    "span_p50_ms" -> Seq("gate.drain", "embed.hop", "ivf.drain", "ivf_probe")
      .flatMap(s => ctx.untraced(s).headOption.map(_ => s -> Stats.median(ctx.untraced(s)))).toMap)
}

object StreamDrip {
  val Corpus = 1000
  val Drop = 250
  val DupFrac = 0.1
  val Dim = 64
  val Shingle = 2
  val Threshold = 0.8
  val CompactEvery = 8
  val K = 10
  val ProbesPerDrop = 2
  val RecallQueries = 500
  val LayerNames: Seq[String] =
    Seq("gate", "ivf").flatMap(p => Seq("latest_offset_ms", "wal_commit_ms", "query_planning_ms",
      "add_batch_ms", "commit_offsets_ms", "batches_per_drain", "start_stop_ms").map(m => s"$p.$m")) ++
      Seq("index.epochs", "index.files", "index.compact_ms", "gate.admitted_frac", "probe.rows_scanned")
}
