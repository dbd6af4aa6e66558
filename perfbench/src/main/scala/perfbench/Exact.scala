package perfbench

/** Reference computations, run in the benchmark's own code, that the
  * engine's outputs are checked against. Written independently of the
  * engine's operators.
  */
object Exact {

  /** Scores within this distance count as tied (float embeddings, double
    * accumulation on both sides; different summation order only).
    */
  val Eps = 1e-6

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val np = math.sqrt(na) * math.sqrt(nb)
    if (np == 0.0) 0.0 else dot / np
  }

  /** Exact top-k by (score desc, id asc) over `(id, vector)` rows. */
  def topK(rows: Iterable[(Long, Array[Float])], q: Array[Float], k: Int): Seq[(Long, Double)] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2)))
    rows.foreach { case (id, v) =>
      val s = cosine(v, q)
      heap.enqueue((s, id))
      if (heap.size > k) heap.dequeue()
    }
    heap.toSeq.sortBy(t => (-t._1, t._2)).map(t => (t._2, t._1))
  }

  /** True when `got` (ids in returned order) is a correct exact top-k of
    * `rows` for `q`: every returned score is the id's true cosine, the
    * order is (score desc, id asc) up to ties, and no other row scores
    * above the k-th returned score.
    */
  def isExactTopK(rows: collection.Map[Long, Array[Float]], q: Array[Float], k: Int,
                  got: Seq[(Long, Double)]): Boolean = {
    val expectLen = math.min(k, rows.size)
    if (got.length != expectLen || got.map(_._1).distinct.length != got.length) return false
    val trueScores = got.map { case (id, s) => rows.get(id).map(v => (id, cosine(v, q), s)) }
    if (trueScores.exists(_.isEmpty)) return false
    val ts = trueScores.flatten
    if (ts.exists { case (_, t, s) => math.abs(t - s) > Eps }) return false
    val ordered = ts.sliding(2).forall {
      case Seq((ia, a, _), (ib, b, _)) => a > b + Eps || (math.abs(a - b) <= Eps && (ia < ib || a > b))
      case _ => true
    }
    if (!ordered) return false
    val kth = if (ts.isEmpty) Double.NegativeInfinity else ts.last._2
    val returned = got.map(_._1).toSet
    rows.forall { case (id, v) => returned(id) || cosine(v, q) <= kth + Eps }
  }

  /** Recall of `got` ids against the exact top-k ids (ties at the k-th
    * score count as hits for either side).
    */
  def recall(rows: Iterable[(Long, Array[Float])], q: Array[Float], k: Int, got: Seq[Long]): Double = {
    val exact = topK(rows, q, k)
    if (exact.isEmpty) return 1.0
    val kth = exact.last._2
    val truth = exact.map(_._1).toSet
    val m = rows.iterator.filter { case (id, _) => !truth(id) }
      .map { case (id, v) => (id, cosine(v, q)) }
      .filter(_._2 >= kth - Eps).map(_._1).toSet
    got.count(id => truth(id) || m(id)).toDouble / exact.length
  }

  /** Word 2-shingle sets, as defined for near-duplicate detection:
    * whitespace tokens, consecutive pairs, de-duplicated.
    */
  def shingles(text: String, n: Int): Set[String] = {
    val t = text.trim.split("\\s+").filter(_.nonEmpty)
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val common = a.count(b)
    val union = a.size + b.size - common
    if (union == 0) 0.0 else common.toDouble / union
  }
}

/** Order statistics of a latency sample. */
object Stats {
  /** Median; NaN for an empty sample (reported as null). */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `inclusive` method). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val h = (s.length - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(s.length - 1, lo + 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** The highest whole percentile with at least ten samples above it, and
    * its value; None when the sample has ten or fewer values.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.length
    val p = (99 to 50 by -1).find(p => n * (100 - p) / 100.0 >= 10.0)
    p.map(pc => (pc, quantile(xs, pc / 100.0)))
  }
}
