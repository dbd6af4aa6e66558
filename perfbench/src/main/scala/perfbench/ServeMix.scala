package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.operators.HashingEmbedder
import graft.store.{DocStore, GraftStore}

/** `serve_mix`: the reference's own verb surface. A [[Docs]]-document
  * [[GraftStore]] is built in set-up; the measured loop then issues a
  * seeded sequence of verbs, one at a time, from one client (closed loop).
  * The benchmark keeps its own model of the store (id → text, vector) and
  * checks every answer against it.
  */
final class ServeMix(ctx: Ctx) extends Workload {
  import ServeMix._
  import ctx.spark

  private val embedder = HashingEmbedder(Dim)
  private val gen = ctx.gen

  // the benchmark's model of the store contents
  private val texts = mutable.HashMap.empty[Long, String]
  private val vecs = mutable.HashMap.empty[Long, Array[Float]]
  private val live = mutable.ArrayBuffer.empty[Long]
  private val slot = mutable.HashMap.empty[Long, Int]
  private val issued = mutable.HashSet.empty[Long]

  private lazy val corpus: Array[String] = {
    val r = gen.rng(10)
    Array.fill(Docs)(gen.doc(r))
  }

  private var path: String = _
  private var store: GraftStore = _
  private val queryRng = gen.rng(30)
  private val docRng = gen.rng(40)
  private var recallSum = 0.0
  private var recallN = 0
  private val filesSeen = mutable.ArrayBuffer.empty[Double]
  private val bytesSeen = mutable.ArrayBuffer.empty[Double]

  private def addLive(id: Long, text: String): Unit = {
    texts(id) = text
    vecs(id) = embedder.embedOne(text)
    slot(id) = live.length
    live += id
    issued += id
  }

  private def removeLive(id: Long): Unit = {
    val i = slot.remove(id).get
    val last = live.last
    live(i) = last
    if (last != id) slot(last) = i
    live.remove(live.length - 1)
    texts.remove(id)
    vecs.remove(id)
  }

  def setup(): Unit = {
    if (path != null) Disk.delete(new java.io.File(path).getParent)
    path = ctx.newDir("store") + "/docs"
    import spark.implicits._
    val rows = corpus.toSeq.zipWithIndex.map { case (t, i) => (i + 1L, t) }.toDF("id", "text")
      .withColumn("metadata", lit(null).cast("string"))
      .withColumn("embedding", embedder.embedCol(col("text")))
      .withColumn("created_at", current_timestamp())
      .select("id", "text", "metadata", "embedding", "created_at")
    DocStore.append(rows, path)
    store = new GraftStore(spark, path, embedder)
  }

  def prepare(): Unit =
    corpus.zipWithIndex.foreach { case (t, i) => addLive(i + 1L, t) }

  /** Every verb once, and a few more queries, through the checked path:
    * the first call of each verb pays class loading and code generation.
    */
  def warm(): Unit = {
    deck ++= Seq("query", "query", "delete", "insert", "hybrid", "search", "get", "query")
    while (deck.nonEmpty) step(-1)
  }

  // the mix is dealt in decks holding each verb in its declared proportion,
  // in one fixed interleaving: seeds choose every argument (query texts,
  // ids, documents) but not where writes fall between reads, which would
  // change the file layout the reads see
  private val deck = mutable.ArrayBuffer.empty[String]
  private def pickVerb(): String = {
    if (deck.isEmpty) deck ++= Deck.reverse
    deck.remove(deck.length - 1)
  }

  /** The loop may stop only between whole decks. */
  override def atBoundary: Boolean = deck.isEmpty

  /** A traced run alternates whole decks, so both halves hold every verb. */
  override def traceUnit: Int = Deck.length

  private def hasTerm(text: String, terms: Set[String]): Boolean =
    text.split(" ").exists(terms)

  def step(i: Int): Unit = {
    if (ctx.tracer.active) {
      filesSeen += Disk.dataFiles(path).toDouble
      bytesSeen += Disk.bytes(path).toDouble
    }
    pickVerb() match {
      case "query" =>
        val q = gen.query(queryRng)
        ctx.op("query")(store.query(q, TopK).select("id", "score").collect()).foreach { case (res, _) =>
          val got = res.map(r => (r.getLong(0), r.getDouble(1))).toSeq
          val qv = embedder.embedOne(q)
          if (ctx.recording) {
            recallSum += Exact.recall(vecs, qv, TopK, got.map(_._1))
            recallN += 1
          }
          if (!Exact.isExactTopK(vecs, qv, TopK, got)) ctx.fail(s"query '$q' returned $got")
        }
      case "get" =>
        // one lookup in ten asks for an id that is not in the store
        val id = if (queryRng.nextInt(10) == 0) -1L - queryRng.nextInt(1000) else live(queryRng.nextInt(live.length))
        ctx.op("get")(store.getDocument(id)).foreach { case (row, _) =>
          val ok = (row, texts.get(id)) match {
            case (Some(r), Some(t)) => r.getAs[Long]("id") == id && r.getAs[String]("text") == t
            case (None, None) => true
            case _ => false
          }
          if (!ok) ctx.fail(s"get($id) returned $row")
        }
      case "search" =>
        val q = gen.query(queryRng)
        ctx.op("search")(store.searchKeyword(q, TopK).select("id").collect()).foreach { case (res, _) =>
          val terms = q.split(" ").toSet
          val ids = res.map(_.getLong(0)).toSeq
          val ok = ids.distinct.length == ids.length &&
            ids.forall(id => texts.get(id).exists(hasTerm(_, terms))) &&
            (ids.length == TopK || ids.length == live.count(id => hasTerm(texts(id), terms)))
          if (!ok) ctx.fail(s"search '$q' returned $ids")
        }
      case "hybrid" =>
        val q = gen.query(queryRng)
        ctx.op("hybrid")(store.queryHybrid(q, TopK).select("id").collect()).foreach { case (res, _) =>
          // fusion of the vector top-20 and the keyword top-20: every hit
          // is a vector candidate or contains a query term
          val terms = q.split(" ").toSet
          val vec = Exact.topK(vecs, embedder.embedOne(q), HybridPool)
          val floor = vec.last._2 - Exact.Eps
          val qv = embedder.embedOne(q)
          val ids = res.map(_.getLong(0)).toSeq
          val ok = ids.length == TopK && ids.distinct.length == ids.length && ids.forall { id =>
            texts.get(id).exists(t => hasTerm(t, terms) || Exact.cosine(vecs(id), qv) >= floor)
          }
          if (!ok) ctx.fail(s"hybrid '$q' returned $ids")
        }
      case "insert" =>
        val t = gen.doc(docRng)
        ctx.op("insert")(store.insert(t)).foreach { case (id, _) =>
          if (issued(id)) ctx.fail(s"insert returned an id already issued: $id")
          else addLive(id, t)
        }
      case "delete" =>
        val id = live(queryRng.nextInt(live.length))
        ctx.op("delete")(store.deleteDocument(id)).foreach { case (hit, _) =>
          if (!hit) ctx.fail(s"delete($id) found no row")
          removeLive(id)
        }
    }
  }

  def finish(): Unit = {
    ctx.verify("countDocuments matches the model")(store.countDocuments() == live.length)
    ctx.verify("stored ids match the model")(
      store.table().select("id").collect().map(_.getLong(0)).toSet == live.toSet)
  }

  private def userBytes: Double =
    live.iterator.map(id => texts(id).getBytes("UTF-8").length + 4.0 * Dim).sum

  def endToEnd(): Map[String, Double] = {
    val all = ctx.untraced()
    Map(
      "read_p50_ms" -> Stats.median(ctx.untraced("query")),
      "write_p50_ms" -> Stats.median(ctx.untraced("insert")),
      "items_per_s" -> all.length / (all.sum / 1000.0),
      "recall" -> recallSum / math.max(1, recallN),
      "bytes_per_user_byte" -> Disk.bytes(path) / userBytes)
  }

  def named(): Seq[(String, Double, String)] = {
    val all = ctx.untraced()
    Verbs.map(v => (s"${v}_p50_ms", Stats.median(ctx.untraced(v)), "ms")) ++ Seq(
      ("query_tail_ms", Stats.tail(ctx.untraced("query")).map(_._2).getOrElse(Double.NaN), "ms"),
      ("ops_per_s", all.length / (all.sum / 1000.0), "1/s"))
  }

  def perLayer(): Map[String, Double] = {
    val t = ctx.tracer
    Verbs.flatMap { v =>
      Seq(s"spark.jobs.$v" -> t.meanOf(v, "jobs"), s"spark.tasks.$v" -> t.meanOf(v, "tasks"),
        s"spark.plan_ms.$v" -> t.meanOf(v, "plan_ms"),
        s"spark.input_bytes.$v" -> t.meanOf(v, "input_bytes"),
        s"spark.scans.$v" -> t.meanOf(v, "scans"),
        s"spark.exec_cpu_ms.$v" -> t.meanOf(v, "exec_cpu_ms"))
    }.toMap ++ Map(
      "store.files" -> (if (filesSeen.isEmpty) 0.0 else filesSeen.sum / filesSeen.length),
      "store.bytes" -> (if (bytesSeen.isEmpty) 0.0 else bytesSeen.sum / bytesSeen.length))
  }

  def details(): Map[String, Any] = Map(
    "docs" -> Docs, "top_k" -> TopK, "mix" -> Mix.toMap,
    "live_docs_at_end" -> live.length,
    "verb_samples" -> Verbs.map(v => v -> ctx.untraced(v).length).toMap)
}

object ServeMix {
  val Docs = 20000
  val Dim = 64
  val TopK = 5
  val HybridPool = 20
  val Mix: Seq[(String, Int)] =
    Seq("query" -> 50, "get" -> 15, "search" -> 10, "hybrid" -> 10, "insert" -> 10, "delete" -> 5)
  /** One deck: 20 verbs at the [[Mix]] weights, writes spread between reads. */
  val Deck: Seq[String] = Seq("query", "search", "query", "get", "query", "insert", "query", "hybrid",
    "query", "delete", "query", "search", "query", "get", "query", "insert", "query", "hybrid", "get", "query")
  require(Mix.forall { case (v, w) => Deck.count(_ == v) * Mix.map(_._2).sum == w * Deck.length },
    "the deck must hold every verb at its mix weight")
  val Verbs: Seq[String] = Mix.map(_._1)
  val LayerNames: Seq[String] =
    Verbs.flatMap(v => Seq("jobs", "tasks", "plan_ms", "input_bytes", "scans", "exec_cpu_ms").map(m => s"spark.$m.$v")) ++
      Seq("store.files", "store.bytes")
}
