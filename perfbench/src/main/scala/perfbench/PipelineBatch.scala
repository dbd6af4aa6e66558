package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, HashingEmbedder, IvfIndex}

/** `pipeline_batch`: the bulk LLM-data path as one unit. Each measured pass
  * runs embed → exact dedup → near-dup pairs (and their removal) → IVF
  * fit → IVF build and write → a batch probe of [[Queries]] queries, every
  * stage writing its output, over a seeded drop of [[Docs]] documents of
  * which [[ExactFrac]] are exact and [[NearFrac]] one-token-edit copies of
  * earlier documents.
  */
final class PipelineBatch(ctx: Ctx) extends Workload {
  import PipelineBatch._
  import ctx.spark
  import spark.implicits._

  private val embedder = HashingEmbedder(Dim)
  private val gen = ctx.gen
  private val texts = mutable.ArrayBuffer.empty[String] // index = id - 1
  // ids whose text already occurred at a smaller id: what exact dedup drops
  private lazy val repeated: Set[Long] = {
    val seen = mutable.HashSet.empty[String]
    texts.indices.filterNot(i => seen.add(texts(i))).map(_ + 1L).toSet
  }
  private val nearPairs = mutable.ArrayBuffer.empty[(Long, Long)]
  private var queryVecs: Array[Array[Float]] = _
  private var input: String = _
  private var passes = 0
  private var recallSum = 0.0
  private var recallN = 0
  private val pairCounts = mutable.ArrayBuffer.empty[Double]
  private var userBytes = 0.0
  private val diskBytes = mutable.ArrayBuffer.empty[Double]

  def prepare(): Unit = {
    val r = gen.rng(60)
    val originals = (Docs * (1 - ExactFrac - NearFrac)).toInt
    (0 until originals).foreach(_ => texts += gen.doc(r))
    val nExact = (Docs * ExactFrac).toInt
    val copies = mutable.ArrayBuffer.empty[Either[Long, Long]]
    (0 until nExact).foreach(_ => copies += Left(1L + r.nextInt(originals)))
    (0 until Docs - originals - nExact).foreach(_ => copies += Right(1L + r.nextInt(originals)))
    // copies arrive after their sources, in a seeded order
    val order = copies.toArray
    for (i <- order.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    order.foreach { c =>
      val id = texts.length + 1L
      c match {
        case Left(src) => texts += texts((src - 1).toInt)
        case Right(src) => texts += gen.oneTokenEdit(r, texts((src - 1).toInt)); nearPairs += ((src, id))
      }
    }
    userBytes = texts.iterator.map(_.getBytes("UTF-8").length + 4.0 * Dim).sum
    val qr = gen.rng(70)
    queryVecs = Array.fill(Queries)(embedder.embedOne(gen.query(qr)))
  }

  /** Set-up lands the raw drop as parquet, the pipeline's input. */
  def setup(): Unit = {
    if (input != null) Disk.delete(new java.io.File(input).getParent)
    input = ctx.newDir("drop") + "/input"
    texts.zipWithIndex.map { case (t, i) => (i + 1L, t) }.toSeq.toDF("id", "text")
      .write.parquet(input)
  }

  /** One unchecked pass over a [[WarmDocs]]-document prefix of the drop,
    * so the measured passes do not pay first-use costs.
    */
  def warm(): Unit = {
    val full = input
    input = s"${new java.io.File(full).getParent}/warm"
    read(full).filter(col("id") <= WarmDocs).write.parquet(input)
    try pass(check = false) finally input = full
  }

  def step(i: Int): Unit = pass(check = true)

  private def read(p: String): DataFrame = spark.read.parquet(p)

  private def pass(check: Boolean): Unit = {
    val dir = ctx.newDir("pass")
    val t0 = System.nanoTime()
    val ok = ctx.op("embed")(
      embedder.embed(read(input), "text", "embedding").write.parquet(s"$dir/embedded")).isDefined &&
      ctx.op("dedup_exact")(
        Dedup.dedupExact(read(s"$dir/embedded"), "id", "text").write.parquet(s"$dir/exact")).isDefined
    val pairs = if (!ok) None else ctx.op("near_dup") {
      val kept = read(s"$dir/exact")
      val found = Dedup.jaccardPairs(kept, "id", "text", Shingle, Threshold)
        .select("a_id", "b_id").as[(Long, Long)].collect()
      Dedup.dedupNear(kept, "id", found.toSeq.toDF("a_id", "b_id")).write.parquet(s"$dir/near")
      found
    }.map(_._1)
    val model = pairs.flatMap(_ => ctx.op("ivf_fit")(IvfIndex.fit(read(s"$dir/near"), "embedding")).map(_._1))
    val built = model.flatMap(m => ctx.op("ivf_build")(
      IvfIndex.writeIndex(IvfIndex.buildIndex(read(s"$dir/near"), "id", "embedding", m), s"$dir/ivf")))
    val writeMs = (System.nanoTime() - t0) / 1e6
    val probed = for (m <- model; _ <- built; res <- ctx.op("ivf_probe") {
      val qs = queryVecs.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toDF("q_id", "q_emb")
      IvfIndex.queryTopKBatch(IvfIndex.readIndex(spark, s"$dir/ivf"), m, qs, "q_id", "q_emb", K,
        IvfIndex.defaultNProbe(m.centroids.length)).select("q_id", "c_id", "score")
        .as[(Long, Long, Double)].collect()
    }) yield res._1
    if (probed.isEmpty) return
    if (check) {
      ctx.samples += Sample("write", writeMs, ctx.tracer.active)
      passes += 1
      diskBytes += Disk.bytes(s"$dir/near") + Disk.bytes(s"$dir/ivf")
      verifyPass(dir, pairs.get, probed.get)
    }
    Disk.delete(dir)
  }

  private def verifyPass(dir: String, pairs: Array[(Long, Long)], probed: Array[(Long, Long, Double)]): Unit = {
    val removed = read(s"$dir/embedded").count() - read(s"$dir/exact").count()
    if (removed != repeated.size) ctx.fail(s"exact dedup removed $removed rows, seeded ${repeated.size}")
    pairCounts += pairs.length
    val found = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val missed = expectedPairs.filterNot(found)
    if (missed.nonEmpty) ctx.fail(s"near-dup pairs missed: ${missed.take(5)} (${missed.length} of ${expectedPairs.length})")
    // the IVF answers: true cosine scores over indexed ids, ranked
    val indexed = read(s"$dir/near").select("id").as[Long].collect().map(id => id -> vec(id)).toMap
    val byQuery = probed.groupBy(_._1)
    val badScore = probed.exists { case (q, c, s) =>
      indexed.get(c).forall(v => math.abs(Exact.cosine(v, queryVecs(q.toInt)) - s) > Exact.Eps)
    }
    if (badScore || byQuery.size != Queries) ctx.fail("ivf probe returned wrong scores or missed queries")
    if (recallN == 0) {
      byQuery.foreach { case (q, rows) =>
        recallSum += Exact.recall(indexed, queryVecs(q.toInt), K, rows.sortBy(r => (-r._3, r._2)).map(_._2).toSeq)
        recallN += 1
      }
    }
  }

  private lazy val vecCache = mutable.HashMap.empty[Long, Array[Float]]
  private def vec(id: Long): Array[Float] = vecCache.getOrElseUpdate(id, embedder.embedOne(texts((id - 1).toInt)))

  /** The seeded near-duplicate pairs whose 2-shingle Jaccard, recomputed
    * here with the operator's hot-shingle cap applied, reaches the
    * threshold. Every one of them must be found.
    */
  private lazy val expectedPairs: Seq[(Long, Long)] = {
    val sets = texts.indices.filterNot(i => repeated(i + 1L)).map(i => (i + 1L) -> Exact.shingles(texts(i), Shingle)).toMap
    val df = mutable.HashMap.empty[String, Int]
    sets.valuesIterator.foreach(_.foreach(s => df(s) = df.getOrElse(s, 0) + 1))
    def capped(id: Long) = sets(id).filter(s => df(s) <= MaxDocFreq)
    nearPairs.toSeq.filter { case (a, b) =>
      sets.contains(a) && sets.contains(b) && Exact.jaccard(capped(a), capped(b)) >= Threshold
    }
  }

  def finish(): Unit =
    ctx.verify("at least one checked pass")(passes > 0)

  private def docsPerS: Double = {
    val walls = ctx.untraced("write")
    Docs * walls.length / (walls.sum / 1000.0)
  }

  def endToEnd(): Map[String, Double] = Map(
      "read_p50_ms" -> Stats.median(ctx.untraced("ivf_probe")),
      "write_p50_ms" -> Stats.median(ctx.untraced("write")),
      "items_per_s" -> docsPerS,
      "recall" -> recallSum / math.max(1, recallN),
      "bytes_per_user_byte" -> diskBytes.sum / diskBytes.length / userBytes)

  def named(): Seq[(String, Double, String)] = Seq(
    ("docs_per_s", docsPerS, "1/s"),
    ("recall_at_10", recallSum / math.max(1, recallN), "frac"))

  def perLayer(): Map[String, Double] = {
    val t = ctx.tracer
    stageMetrics(t, ctx.cores) ++ Map(
      "near_dup.pairs" -> (if (pairCounts.isEmpty) 0.0 else pairCounts.sum / pairCounts.length),
      "ivf_probe.rows_scanned_per_query" -> t.meanOf("ivf_probe", "input_records") / Queries)
  }

  def details(): Map[String, Any] = Map(
    "docs" -> Docs, "exact_dups" -> repeated.size, "near_dups" -> nearPairs.length,
    "near_pairs_checked" -> expectedPairs.length, "queries" -> Queries, "k" -> K,
    "passes" -> passes,
    "stage_p50_ms" -> Stages.flatMap(s => ctx.untraced(s).headOption.map(_ => s -> Stats.median(ctx.untraced(s)))).toMap)
}

object PipelineBatch {
  val Docs = 3000
  val WarmDocs = 500
  val ExactFrac = 0.05
  val NearFrac = 0.05
  val Dim = 64
  val Shingle = 2
  val Threshold = 0.8
  val MaxDocFreq = 1000
  val Queries = 1000
  val K = 10
  val Stages: Seq[String] = Seq("embed", "dedup_exact", "near_dup", "ivf_fit", "ivf_build", "ivf_probe")
  /** Per-stage wall, shuffle, spill and CPU use, from spans named by stage. */
  def stageMetrics(t: Tracer, cores: Int): Map[String, Double] =
    Stages.flatMap { s =>
      val wall = t.meanWallMs(s)
      Seq(s"$s.s" -> wall / 1000.0,
        s"$s.shuffle_bytes" -> t.meanOf(s, "shuffle_bytes"),
        s"$s.spill_bytes" -> t.meanOf(s, "spill_bytes"),
        s"$s.cpu_ratio" -> (if (wall == 0) 0.0 else t.meanOf(s, "exec_cpu_ms") / (cores * wall)))
    }.toMap

  val LayerNames: Seq[String] =
    Stages.flatMap(s => Seq("s", "shuffle_bytes", "spill_bytes", "cpu_ratio").map(m => s"$s.$m")) ++
      Seq("near_dup.pairs", "ivf_probe.rows_scanned_per_query")
}
