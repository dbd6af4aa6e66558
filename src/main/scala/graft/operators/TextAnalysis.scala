package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (SURVEY §2.3 E5 +
  * the builder brief): token counting, quality scoring, language ID, and
  * document fingerprinting. All pure Column expressions built from
  * `org.apache.spark.sql.functions` — no UDFs on the hot path, so they
  * run in-row inside the scan's generated stage. The higher-order
  * functions among them (`filter`, `exists`, `aggregate`, `transform`)
  * are CodegenFallback in Spark 4.1: their lambdas run interpreted within
  * that stage, with nothing leaving the row. (One deliberate
  * exception: [[tokenizeToIds]] uses a broadcast-hash-map UDF — an O(1)
  * per-token lookup that replaces a corpus-sized token shuffle; the
  * codegen break costs far less than the Exchange it removes.)
  *
  * Reference analogues: `full_text_length` (`/root/reference/vectolite.py:249`)
  * and the stats verb (`vectolite.py:538-555`); everything else generalizes
  * the same content model.
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text ("" → empty array, not [""]). */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** Scan-parallelism floor for tokenize-heavy map passes (r22,
    * generalizing the r21 [[Sketches.heavyHitterTokens]] fix; guide
    * §2.5 "input skew — one huge unsplittable file"): the tokenize
    * work is charged to the SCAN's tasks, and a single-row-group
    * parquet (any small-file corpus — the fixture shape) yields one
    * task no matter how many cores the session has, so the whole pass
    * runs serial. A round-robin repartition of the projected rows
    * (bytes-cheap next to the tokenize) restores parallelism; it is a
    * NO-OP whenever the scan already meets the session's parallelism —
    * any real corpus — or the frame is streaming (per-micro-batch
    * frames are batch-bounded; adding an exchange per trigger buys
    * nothing). Callers only use it above commutative aggregations or
    * per-row maps, so the split cannot change any result. Measured
    * (sf0.1, 32 cpus, warm; dev profile, since removed): unigram counts
    * 0.64 → 0.43 s, tokenizeToIds 1.10 → 0.82 s.
    */
  private[operators] def scanFloor(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
    }

  /** Token count — whitespace tokenization, the universal baseline. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count approximation: whitespace tokens plus an extra
    * unit per 4 chars of long tokens (public rule of thumb: ~4 chars per
    * subword token for English-like text).
    */
  def approxSubwordCount(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + greatest(ceil(length(t) / 4.0).cast("long"), lit(1L)))

  private val punctPattern = "[^a-zA-Z0-9\\s]"

  /** Punctuation character ratio over total length (0 for empty text). */
  def punctRatio(text: Column): Column = {
    val len = length(text)
    when(len === 0, 0.0)
      .otherwise((len - length(regexp_replace(text, punctPattern, ""))) / len.cast("double"))
  }

  /** Mean token length (0 for empty text). */
  def avgTokenLen(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, 0.0).otherwise(
      aggregate(t, lit(0L), (acc, x) => acc + length(x)) / size(t).cast("double"))
  }

  /** Ratio of tokens found in a (lowercased) stopword list. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val t = tokens(lower(text))
    when(size(t) === 0, 0.0).otherwise(
      size(filter(t, x => x.isin(stopwords.map(lit(_)): _*))) / size(t).cast("double"))
  }

  /** English-ish stopwords present in typical corpora (public list subset). */
  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for", "on", "with")

  /** Heuristic document quality score in [0,1]: rewards reasonable length,
    * moderate token size, low punctuation noise, and some stopword mass —
    * the standard cheap pre-filter shape for web-scale corpus cleaning.
    * Components are each clamped to [0,1] and averaged, so the score is
    * interpretable and monotone in each signal.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text) / 200.0, lit(1.0))
    val tokScore = least(tokenCount(text) / 40.0, lit(1.0))
    val punctScore = greatest(lit(1.0) - punctRatio(text) * 4.0, lit(0.0))
    val stopScore = least(stopwordRatio(text, EnStopwords) * 5.0, lit(1.0))
    round((lenScore + tokScore + punctScore + stopScore) / 4.0, 6)
  }

  /** Stopword-hit language ID: counts hits against per-language marker
    * lists and takes the argmax via struct-max over (hits, lang) — ties
    * therefore resolve to the LEXICOGRAPHICALLY LARGEST lang code (the
    * declared oracle encodes the same rule). Languages with zero hits
    * fall through to "und" (undetermined).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with", "for"),
    "de" -> Seq("der", "die", "und", "ist", "mit", "für"),
    "es" -> Seq("el", "la", "los", "es", "con", "para"),
    "fr" -> Seq("le", "la", "les", "est", "avec", "pour"))

  def langId(text: Column): Column = {
    val t = tokens(lower(text))
    val hits = LangMarkers.map { case (lang, ms) =>
      struct(size(filter(t, x => x.isin(ms.map(lit(_)): _*))).as("hits"), lit(lang).as("lang"))
    }
    val best = array_max(array(hits: _*))
    when(best.getField("hits") === 0, "und").otherwise(best.getField("lang"))
  }

  /** LET-BINDING for Column expressions: binds `value` ONCE as a lambda
    * variable and evaluates `body` over it. Without this, an expression
    * referenced inside a higher-order-function lambda is a SUBTREE that
    * re-evaluates per element — `wordNgrams` over a subtree containing
    * `tokens(text)` re-ran the regex tokenizer PER NGRAM, O(tokens²)
    * regex work per row (caught by the 500× rehearsal hanging; the same
    * pitfall `Dedup.shingles` documents). A lambda-bound variable is
    * evaluated once, restoring O(tokens).
    */
  private def bind(value: Column, body: Column => Column): Column =
    element_at(transform(array(value), body), 1)

  /** Word n-grams of the token stream as a Column (in-row HOFs: tokens
    * bound once, then one `transform` over index positions + `slice`).
    * Fewer than `n` tokens → empty array.
    */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    bind(tokens(text), t => ngramsOfBound(t, n))
  }

  /** N-grams over an ALREADY-BOUND token array (lambda variable — cheap
    * to reference repeatedly).
    */
  private def ngramsOfBound(t: Column, n: Int): Column =
    when(size(t) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + 1, lit(n)))))

  /** `1 - |distinct|/|n|` over a bound array (0 for empty). */
  private def dupFracOfBound(a: Column): Column =
    when(size(a) === 0, 0.0).otherwise(
      (size(a) - size(array_distinct(a))) / size(a).cast("double"))

  /** Fraction of duplicate tokens within a document (0 for empty text):
    * `1 - |distinct| / |tokens|` — the cheapest of the within-document
    * repetition signals the Gopher/MassiveText quality filters use to
    * catch degenerate (looping, boilerplate, keyword-stuffed) docs that
    * CROSS-document dedup never sees.
    */
  def dupTokenFrac(text: Column): Column =
    bind(tokens(text), dupFracOfBound)

  /** Fraction of duplicate word n-grams within a document (0 when fewer
    * than n tokens) — the n-gram generalization of [[dupTokenFrac]]:
    * repeated phrases/sentences inflate it long before token-level
    * repetition shows.
    */
  def dupNgramFrac(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    bind(tokens(text), t => bind(ngramsOfBound(t, n), dupFracOfBound))
  }

  /** Quality FILTER with an audit trail: instead of silently dropping
    * rows, emit the comma-joined names of every rule a document fails
    * ("" = keep). A 100 TB cleaning pass must be explainable — per-rule
    * drop rates are the first thing anyone asks of a corpus build, and
    * rerunning the pipeline to find out why a doc vanished is a
    * full-corpus scan. `concat_ws` skips the NULL (passing) branches, so
    * this stays one projection.
    */
  def filterReasons(text: Column, minChars: Int = 50, minTokens: Int = 10,
                    maxDupTokenFrac: Double = 0.5,
                    minQuality: Double = 0.3): Column =
    concat_ws(",",
      when(length(text) < minChars, lit("too_short")),
      when(tokenCount(text) < minTokens, lit("too_few_tokens")),
      when(dupTokenFrac(text) > maxDupTokenFrac, lit("repetitive")),
      when(qualityScore(text) < minQuality, lit("low_quality")))

  /** Content fingerprint: md5 over the first `k` sorted distinct lowercase
    * tokens — a stable, order-insensitive near-identity key (the cheap
    * cousin of a rolling-hash fingerprint; md5 is used because it is
    * bit-identical across engines, making the operator oracle-checkable).
    */
  def fingerprint(text: Column, k: Int = 8): Column =
    md5(concat_ws(" ", slice(array_sort(array_distinct(tokens(lower(text)))), 1, k)))

  // ------------------------------------------------ fused bulk-scan path
  /** All per-document text metrics from ONE tokenization pass. */
  final case class TextMetrics(
    n_tokens: Long, approx_subwords: Long,
    dup_token_frac: Double, dup_2gram_frac: Double,
    punct_ratio: Double, avg_token_len: Double, stopword_ratio: Double,
    quality: Double, reasons: String)

  /** Round-half-up to 6 places — bit-identical to Spark's `round(col, 6)`
    * on doubles (both go through BigDecimal HALF_UP).
    */
  private def round6(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private val EnStopwordSet = EnStopwords.toSet

  /** Single-pass Scala twin of the Column metrics above, with IDENTICAL
    * semantics field-for-field (codepoint lengths like Spark's `length`,
    * ASCII `\s` tokenization, same clamp/rounding order — pinned by a
    * fixture-equality spec). This is the BULK path: the Column forms
    * compose and oracle-check cleanly, but each metric re-tokenizes and
    * higher-order functions evaluate interpreted, so a full audit scan
    * pays ~6 regex splits + interpreted lambdas per row — measured 316 s
    * for 2.5M docs vs ~30 s fused (SCALE.md 500×; same UDF-beats-HOF
    * trade `Dedup.shingles` documents).
    */
  def metricsOf(text: String, minChars: Int = 50, minTokens: Int = 10,
                maxDupTokenFrac: Double = 0.5, minQuality: Double = 0.3): TextMetrics = {
    val s = if (text == null) "" else text
    val len = s.codePointCount(0, s.length).toDouble
    val toks = s.trim.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    var subwords = 0L
    var charSum = 0L
    var stopHits = 0
    var dupToks = 0
    val seen = new java.util.HashSet[String]()
    toks.foreach { t =>
      val tl = t.codePointCount(0, t.length)
      charSum += tl
      subwords += math.max(math.ceil(tl / 4.0).toLong, 1L)
      if (EnStopwordSet.contains(t.toLowerCase(java.util.Locale.ROOT))) stopHits += 1
      if (!seen.add(t)) dupToks += 1
    }
    var dupBi = 0
    val nBi = math.max(n - 1, 0)
    if (n >= 2) {
      val bseen = new java.util.HashSet[String]()
      var i = 0
      while (i < n - 1) {
        if (!bseen.add(toks(i) + " " + toks(i + 1))) dupBi += 1
        i += 1
      }
    }
    // punct codepoints = matches of [^a-zA-Z0-9\s] (Java \s is ASCII)
    var punctCp = 0L
    s.codePoints().forEach { cp =>
      val alnum = (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') || (cp >= '0' && cp <= '9')
      val ws = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0b || cp == '\f' || cp == '\r'
      if (!alnum && !ws) punctCp += 1
    }
    val dupTokenFracV = if (n == 0) 0.0 else dupToks.toDouble / n
    val dup2 = if (nBi == 0) 0.0 else dupBi.toDouble / nBi
    val punct = if (len == 0) 0.0 else punctCp / len
    val avgTok = if (n == 0) 0.0 else charSum / n.toDouble
    val stopR = if (n == 0) 0.0 else stopHits.toDouble / n
    // same component order and clamps as qualityScore (Column form)
    val quality = round6((math.min(len / 200.0, 1.0) + math.min(n / 40.0, 1.0) +
      math.max(1.0 - punct * 4.0, 0.0) + math.min(stopR * 5.0, 1.0)) / 4.0)
    val reasons = Seq(
      if (len < minChars) Some("too_short") else None,
      if (n < minTokens) Some("too_few_tokens") else None,
      if (dupTokenFracV > maxDupTokenFrac) Some("repetitive") else None,
      if (quality < minQuality) Some("low_quality") else None).flatten.mkString(",")
    TextMetrics(n.toLong, subwords, dupTokenFracV, dup2, punct, avgTok, stopR, quality, reasons)
  }

  /** Column form of [[metricsOf]]: one UDF call per row returning the full
    * metrics struct — use this when a scan needs several metrics at once.
    */
  def metrics(text: Column, minChars: Int = 50, minTokens: Int = 10,
              maxDupTokenFrac: Double = 0.5, minQuality: Double = 0.3): Column = {
    val f = udf((s: String) => metricsOf(s, minChars, minTokens, maxDupTokenFrac, minQuality))
    f(text)
  }

  /** Per-group rollups over a corpus (E5): doc counts, char/token mass,
    * quality aggregates. One hash-shuffle groupBy — partial aggregation
    * makes this scan-bound at any scale.
    */
  def corpusStats(docs: DataFrame, textCol: String, groupCols: Seq[String]): DataFrame =
    docs.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col(textCol))).as("total_chars"),
        round(avg(length(col(textCol))), 6).as("avg_chars"),
        sum(tokenCount(col(textCol))).as("total_tokens"),
        round(avg(qualityScore(col(textCol))), 6).as("avg_quality"))

  // ------------------------------------------------ vocabulary building
  /** Corpus VOCABULARY: the top-N words by total term frequency with
    * document frequency alongside — the first pass of any tokenizer
    * training (BPE/WordPiece start from exactly this word-count table)
    * and the cheapest corpus-drift monitor.
    *
    * Scale contract: document frequency is made shuffle-free by
    * computing per-document distinctness INSIDE the row
    * (`array_distinct` over the token array) instead of a
    * groupBy(word, doc) rollup — the rollup's exchange carries the
    * corpus's distinct (word, doc) pairs (~token mass on natural text;
    * measured 199 s at 2.5M docs), while here one explode emits
    * (word, tf=1) per token plus (word, df=1) per in-doc-distinct word
    * and the single groupBy(word) partial agg collapses each partition
    * to vocabulary size BEFORE the exchange (measured 105 s at the same
    * 2.5M docs — the cost is the tokenize scan, not the shuffle). Hot
    * words cannot skew a reducer for the same reason. The final top-N
    * is a TakeOrderedAndProject (k-bounded), never a global sort.
    *
    * Tie-break: (tf desc, word asc) — total order, oracle-reproducible.
    */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String,
                 topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    // scanFloor (r22): serial-scan tokenize parallelized; sums commute
    val pairs = scanFloor(docs.select(col(textCol)))
      .select(tokens(col(textCol)).as("__toks"))
      .select(explode(concat(
        transform(col("__toks"),
          w => struct(w.as("word"), lit(1L).as("tf"), lit(0L).as("df"))),
        transform(array_distinct(col("__toks")),
          w => struct(w.as("word"), lit(0L).as("tf"), lit(1L).as("df")))))
        .as("e"))
    pairs.groupBy(col("e.word").as("word"))
      .agg(sum(col("e.tf")).as("tf"), sum(col("e.df")).as("df"))
      .orderBy(col("tf").desc, col("word").asc)
      .limit(topN)
  }

  /** Exact + sketched distinct-word count over a corpus: `n_words` is the
    * exact two-level distinct (same shuffle discipline as [[vocabulary]]);
    * `approx_ok` asserts the HyperLogLog++ sketch (`approx_count_distinct`,
    * rsd 2%) landed within `tol` of it. At 100 TB the EXACT count is the
    * expensive audit you run rarely and the SKETCH is the per-build
    * monitor — this operator is the parity row that justifies trusting
    * the sketch: constant-memory per partition, one tiny exchange of
    * sketch buffers, no distinct shuffle at all.
    */
  def distinctWordStats(docs: DataFrame, textCol: String,
                        tol: Double = 0.05): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("word"))
      .agg(countDistinct(col("word")).as("n_words"),
        approx_count_distinct(col("word"), 0.02).as("__a"))
      .select(col("n_words"),
        (abs(col("__a") - col("n_words")) <= col("n_words") * tol)
          .as("approx_ok"))

  /** N-GRAM COUNT TABLE: corpus-wide word n-gram counts with a min-count
    * prune and a deterministic top-N — the n>1 generalization of
    * [[vocabulary]] and the raw material of n-gram LM training, MinHash
    * shingle-frequency analysis, and contamination forensics.
    *
    * Scale contract: one tokenize+explode scan; the groupBy(ngram)
    * partial agg collapses each partition to its distinct-ngram set
    * before the exchange (on natural text that set is large — it IS the
    * count table; the build is one linear pass, which is the best any
    * engine does). The min-count prune runs post-agg (a pre-agg prune
    * would need the very counts it prunes); the top-N is k-bounded.
    */
  def ngramCounts(docs: DataFrame, textCol: String, n: Int,
                  minCount: Long, topN: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    // scanFloor: parallelize the tokenize+explode map side on a
    // single-row-group scan; the count agg is commutative (r22)
    scanFloor(docs.select(col(textCol)))
      .select(explode(wordNgrams(col(textCol), n)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("ngram").asc)
      .limit(topN)
  }

  // ------------------------------------------------ tokenizer apply
  /** Rank a count table (`(ngram, tf, ...)` — [[ngramCounts]] output or
    * [[CountTable.read]]) into a tokenizer VOCABULARY with dense integer
    * ids: 1..|vocab| by (tf desc, word asc); id 0 is reserved for
    * OOV/UNK. The global ranking uses per-partition prefix sums (range
    * exchange + zipWithIndex — the `assignIdsOrdered` shape), NOT an
    * unpartitioned row_number window: a real corpus's vocabulary is
    * millions of rows and must never funnel through one task (the
    * "zero unpartitioned Window" discipline PLANS.md pins).
    */
  def vocabIds(counts: DataFrame): DataFrame = {
    // accept both count-frame shapes the doc promises: CountTable's "tf"
    // and ngramCounts' "cnt"
    val tfCol =
      if (counts.columns.contains("tf")) col("tf")
      else if (counts.columns.contains("cnt")) col("cnt")
      else throw new IllegalArgumentException(
        s"vocabIds: expected a 'tf' or 'cnt' column, got ${counts.columns.mkString(", ")}")
    graft.store.DocStore.assignIdsOrdered(
        counts.select(col("ngram"), tfCol.as("tf")),
        Seq(col("tf").desc, col("ngram").asc), 0L, idCol = "id")
      .select(col("ngram").as("word"), col("id"))
  }

  /** TOKENIZE a corpus against a vocabulary frame `(word, id)` — the
    * APPLY side of tokenizer training (the step between [[vocabulary]]
    * / [[CountTable]] and [[Splits.packSequences]]): each document's
    * token stream becomes its id sequence, order preserved, OOV → 0,
    * token-less documents kept with an empty array.
    *
    * Scale contract: a tokenizer vocabulary is a BOUNDED ARTIFACT (32k
    * subwords to a few million words — MBs, not corpus-sized), exactly
    * like a shipped sentencepiece model. So the apply side collects it
    * ONCE, broadcasts the hash map to every executor, and maps each
    * document's token array through it IN PLACE: one narrow projection
    * over the corpus, ZERO shuffle, order trivially preserved. The
    * driver-side collect is the vocabulary (bounded, guarded by
    * `maxBroadcastEntries`), never corpus data. Compare
    * [[tokenizeToIdsJoin]], which keeps everything distributed but pays
    * a full token-level regroup — the right form only when the
    * vocabulary itself is too large to hold in executor memory.
    */
  def tokenizeToIds(docs: DataFrame, idCol: String, textCol: String,
                    vocab: DataFrame,
                    maxBroadcastEntries: Int = 8000000): DataFrame = {
    // Size check BEFORE the collect (round-14, ADVICE r13): collecting
    // maxBroadcastEntries+1 Rows just to discover the vocab is over the
    // cap is itself hundreds of MB of driver heap at the default cap —
    // the OOM would fire before the join fallback ever engaged. The
    // count costs one cheap job (it scans only row counts, no data to
    // the driver) and gates the collect to under-cap vocabs only.
    if (vocab.limit(maxBroadcastEntries + 1).count() > maxBroadcastEntries)
      return tokenizeToIdsJoin(docs, idCol, textCol, vocab)
    val entries = vocab
      .select(col("word").cast("string"), col("id").cast("long"))
      .collect()
    val m = new java.util.HashMap[String, java.lang.Long](entries.length * 2)
    entries.foreach(r => m.put(r.getString(0), r.getLong(1)))
    val bc = docs.sparkSession.sparkContext.broadcast(m)
    val lookup = udf((toks: Seq[String]) =>
      if (toks == null) Seq.empty[Long]
      else toks.map { t => val id = bc.value.get(t); if (id == null) 0L else id.longValue })
    // scanFloor: parallelize the per-row tokenize+map on a
    // single-row-group scan (no-op on any real corpus; r22)
    scanFloor(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), lookup(tokens(col(textCol))).as("token_ids"))
  }

  /** Fully-distributed twin of [[tokenizeToIds]] for vocabularies too
    * large to broadcast as a map: posexplode to token level, broadcast
    * hash join against the vocab frame, regroup per document with order
    * restored by a per-row array sort (never a window). Pays one
    * token-level Exchange (the regroup) — corpus-sized, which is why
    * the broadcast-map form is the default.
    */
  def tokenizeToIdsJoin(docs: DataFrame, idCol: String, textCol: String,
                        vocab: DataFrame, broadcastVocab: Boolean = true): DataFrame = {
    val v = if (broadcastVocab) broadcast(vocab) else vocab
    val tok = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("__pos", "word")))
    val mapped = tok.join(v, Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("__pos").as("p"),
          coalesce(col("id"), lit(0L)).as("id")))),
        e => e.getField("id")).as("token_ids"))
    docs.select(col(idCol))
      .join(mapped, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("token_ids"), array().cast("array<bigint>")).as("token_ids"))
  }

  // ------------------------------------------------ corpus monitoring
  /** Token-length HISTOGRAM of a corpus — the distribution every build
    * monitors (truncation pressure, degenerate-short mass, packing
    * efficiency): docs bucketed by `floor(n_tokens / bucketWidth)`, each
    * bucket carrying its doc count and token mass. One scan + a
    * buckets-sized aggregate — the partial agg collapses each partition
    * to |buckets| rows before the exchange, so the shuffle is bounded by
    * the histogram's own size at any corpus scale.
    */
  def lengthHistogram(docs: DataFrame, textCol: String,
                      bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    docs.select(tokenCount(col(textCol)).cast("long").as("__n"))
      .groupBy((col("__n") / bucketWidth).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_tokens"))
      .withColumn("lo", col("bucket") * bucketWidth)
      .select(col("bucket"), col("lo"), col("n_docs"), col("n_tokens"))
      .orderBy("bucket")
  }

  // ------------------------------------------------ line-level curation
  /** Non-empty trimmed lines of a text column (`""` rows dropped) — the
    * unit of C4/RefinedWeb-style curation rules, which operate on LINES
    * where document rules operate on whole texts.
    */
  def linesOf(text: Column): Column =
    // Null-text rows yield an EMPTY line array (not null): split(null)
    // is null in Spark 4 and size(null) is null, which would otherwise
    // propagate null n_lines/n_kept/n_removed and null `cleaned` through
    // lineClean/hotLines/removeHotLines — real corpora have null text.
    coalesce(
      filter(transform(split(text, "\n"), l => trim(l)), l => l =!= ""),
      array().cast("array<string>"))

  /** First occurrence of each element of a BOUND array column, order
    * preserved — within-doc repeated-line dedup. `arr` must be an
    * attribute (staged via `withColumn`), not a computed subtree: HOF
    * lambdas re-evaluate captured subtrees per element (the round-8
    * lambda-quadratic lesson). `array_position` makes this O(n²) in the
    * array length — fine for per-document line counts, not for corpora.
    */
  def firstOccurrences(arr: Column): Column =
    transform(
      filter(transform(arr, (x, i) => struct(x.as("x"), i.as("i"))),
        s => array_position(arr, s.getField("x")) === s.getField("i") + 1),
      s => s.getField("x"))

  /** RULE-BASED LINE CLEANING (C4-style, public rules: Raffel et al. 2020
    * §2.2): per document, keep only lines with ≥ `minWords` words, not
    * matching the `boilerplateRe` marker pattern, and (optionally) ending
    * in terminal punctuation; optionally drop within-doc repeated lines
    * (first occurrence wins). In-row HOFs over a staged line array
    * — one split per row, nothing leaves the row — so the cleaning pass
    * rides any scan at 100 TB exactly like the PII scrub. Output: input
    * columns + `n_lines`, `n_kept`, `cleaned` (kept lines re-joined with
    * '\n').
    *
    * The document-level quality filter ([[filterReasons]]) decides
    * whether a DOC survives; this decides which LINES of a surviving doc
    * do — the two compose (clean lines first, then doc-level metrics
    * over the cleaned text).
    */
  def lineClean(df: DataFrame, textCol: String,
                minWords: Int = 5,
                boilerplateRe: String = "(?i)subscribe|cookie|all rights reserved",
                requireTerminalPunct: Boolean = false,
                dedupLines: Boolean = false): DataFrame = {
    require(minWords >= 0, s"minWords must be >= 0, got $minWords")
    val keepRule: Column => Column = { l =>
      val words = size(filter(split(l, "\\s+"), w => w =!= ""))
      val base = words >= minWords && !l.rlike(boilerplateRe)
      if (requireTerminalPunct) base && l.rlike("[.!?]$") else base
    }
    val staged = df.withColumn("__lines", linesOf(col(textCol)))
      .withColumn("__kept0", filter(col("__lines"), keepRule))
    val withKept =
      if (dedupLines) staged.withColumn("__kept", firstOccurrences(col("__kept0")))
      else staged.withColumn("__kept", col("__kept0"))
    withKept
      .withColumn("n_lines", size(col("__lines")).cast("long"))
      .withColumn("n_kept", size(col("__kept")).cast("long"))
      .withColumn("cleaned", array_join(col("__kept"), "\n"))
      .drop("__lines", "__kept0", "__kept")
  }

  /** Lines appearing in more than `maxDocFreq` DOCUMENTS — the interdoc
    * boilerplate table (navigation chrome, legal footers: RefinedWeb /
    * CCNet-style "line repeated across many pages" removal). Per-doc
    * distinctness in-row (`array_distinct` before the explode), so the
    * aggregate counts document frequency and the only exchange is
    * line-vocabulary-sized — the [[vocabIds]] df discipline.
    */
  def hotLines(df: DataFrame, textCol: String, maxDocFreq: Long): DataFrame = {
    require(maxDocFreq > 0, s"maxDocFreq must be positive, got $maxDocFreq")
    df.select(explode(array_distinct(linesOf(col(textCol)))).as("line"))
      .groupBy("line").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxDocFreq)
  }

  /** Remove the [[hotLines]] set from every document IN ROW: the hot set
    * is a bounded artifact (lines shared by >cap documents — chrome and
    * footers, not content), so it collects once under `maxBroadcastLines`
    * and broadcasts as a hash set; each doc's line array filters through
    * it in one narrow projection — ZERO shuffle over the corpus, the
    * [[tokenizeToIds]] broadcast discipline. Throws [[graft.core.EngineError]]
    * if the hot set exceeds the cap (a corpus whose boilerplate table is
    * unbounded needs the join form — and a look at its fixture).
    * Output: input columns + `n_removed`, `cleaned`.
    */
  def removeHotLines(df: DataFrame, textCol: String, hot: DataFrame,
                     maxBroadcastLines: Int = 1000000): DataFrame = {
    if (hot.limit(maxBroadcastLines + 1).count() > maxBroadcastLines)
      return removeHotLinesJoin(df, textCol, hot)
    val hotSet = hot.select(col("line").cast("string"))
      .collect().map(_.getString(0)).toSet
    val bc = df.sparkSession.sparkContext.broadcast(hotSet)
    val keep = udf((ls: Seq[String]) =>
      if (ls == null) Seq.empty[String] else ls.filterNot(bc.value.contains))
    df.withColumn("__lines", linesOf(col(textCol)))
      .withColumn("__kept", keep(col("__lines")))
      .withColumn("n_removed",
        (size(col("__lines")) - size(col("__kept"))).cast("long"))
      .withColumn("cleaned", array_join(col("__kept"), "\n"))
      .drop("__lines", "__kept")
  }

  /** Fully-distributed twin of [[removeHotLines]] for hot sets too large
    * to broadcast as a driver set (a pathological corpus whose chrome
    * table is itself huge): posexplode to line level, anti-join the hot
    * frame, regroup per document with order restored by a per-row array
    * sort (never a window) — the [[tokenizeToIdsJoin]] pattern. Pays one
    * line-level Exchange (the regroup), which is why the broadcast form
    * is the default; the automatic fallback means an over-cap hot set
    * degrades to the distributed plan instead of failing or OOMing the
    * driver (round-14, replacing the earlier hard EngineError).
    */
  def removeHotLinesJoin(df: DataFrame, textCol: String,
                         hot: DataFrame): DataFrame = {
    // localCheckpoint pins ONE evaluation of the row-id assignment:
    // `keyed` feeds both the exploded anti-join subtree and the final
    // re-join, and monotonically_increasing_id is nondeterministic — two
    // independent evaluations could key the same row differently and
    // silently cross-join documents (the probeBatch double-evaluation
    // discipline).
    val keyed = df.withColumn("__row_id", monotonically_increasing_id())
      .withColumn("__lines", linesOf(col(textCol)))
      .localCheckpoint(false)
    val kept = keyed
      .select(col("__row_id"),
        posexplode(col("__lines")).as(Seq("__pos", "__line")))
      .join(hot.select(col("line").cast("string").as("__line")),
        Seq("__line"), "left_anti")
      .groupBy(col("__row_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("__pos").as("p"),
          col("__line").as("l")))),
        e => e.getField("l")).as("__kept"))
    keyed.join(kept, Seq("__row_id"), "left")
      .withColumn("__kept",
        coalesce(col("__kept"), array().cast("array<string>")))
      .withColumn("n_removed",
        (size(col("__lines")) - size(col("__kept"))).cast("long"))
      .withColumn("cleaned", array_join(col("__kept"), "\n"))
      .drop("__row_id", "__lines", "__kept")
  }

  // ------------------------------------------------ phrase & snippet
  /** Match POSITIONS (1-based token index) of an exact token-sequence
    * phrase in `text` — in-row positional search (the EXACT-PHRASE verb
    * BM25's bag-of-words scoring can't express): position i matches iff
    * `tokens[i..i+m-1] == phrase`. In-row HOFs — an index sequence,
    * a slice comparison per candidate position — O(|tokens|·m) per row
    * with nothing leaving the row, so phrase search rides any scan.
    */
  def phrasePositions(text: Column, phrase: Seq[String]): Column =
    phrasePositionsOf(tokens(text), phrase)

  /** `(n_hits, first_pos)` struct of one phrase over `text`, with BOTH
    * the token array and the position array LET-BOUND (round-15): the
    * compose-it-yourself form (`phrasePositions` staged, then
    * `size`/`array_min`/a filter referencing it) re-evaluates the whole
    * tokenize+slice check per reference — CaseWhen branches are excluded
    * from codegen subexpression elimination (the round-13 BM25
    * standing-query lesson), and the check IS a CaseWhen. Behind the let-binding the
    * shared subtree sits ABOVE the CaseWhen, so CSE collapses every
    * downstream reference to one evaluation per row. Measured at sf0.1:
    * the full-scan phrase row 2.9 s → 0.30 s and the phrase stream
    * 3.3 s → 0.58 s (the 5-phrase router evidenced the
    * single-evaluation cost first — its Generate boundary had the same
    * effect structurally).
    */
  def phraseHits(text: Column, phrase: Seq[String]): Column =
    bind(tokens(text), t =>
      bind(phrasePositionsOf(t, phrase), p =>
        struct(size(p).cast("long").as("n_hits"),
          coalesce(array_min(p), lit(0)).cast("long").as("first_pos"))))

  /** [[phrasePositions]] over an ALREADY-TOKENIZED column — stage `toks`
    * as an attribute when checking SEVERAL phrases against one document
    * (round-15: the multi-phrase router re-tokenized per phrase through
    * the text form — 5 standing phrases cost 5 splits per doc, measured
    * 13.5 s vs 3.6 s for the single-phrase stream at sf0.1; one staged
    * tokenization shares the split across every check).
    */
  def phrasePositionsOf(toks: Column, phrase: Seq[String]): Column = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val m = phrase.size
    // measured note: a first-token CaseWhen pre-filter before the slice
    // compare was tried and REVERTED — for short phrases the guard costs
    // as much per position as the slice it skips (3.1 s → 3.6 s on the
    // sf0.1 full-scan row); the simple form is also what the oracle
    // replays structurally
    when(size(toks) >= m,
      filter(sequence(lit(1), size(toks) - lit(m - 1)),
        i => slice(toks, i, lit(m)) === typedLit(phrase)))
      .otherwise(array().cast("array<int>"))
  }

  /** `phrase ⊆ text` as a boolean — `phrasePositions` non-empty. */
  def containsPhrase(text: Column, phrase: Seq[String]): Column =
    size(phrasePositions(text, phrase)) > 0

  /** Search-result SNIPPET: a character window of ±`width` around the
    * FIRST occurrence of any query term (leftmost match across terms
    * wins; term order breaks position ties implicitly since `least`
    * takes the minimum position). Substring match semantics (like a
    * highlighter, `locate`-based — "hash" matches inside "hashing");
    * docs matching no term get the empty string. One codegen projection.
    */
  def snippet(text: Column, terms: Seq[String], width: Int): Column = {
    require(terms.nonEmpty, "snippet terms must be non-empty")
    require(width >= 0, s"width must be >= 0, got $width")
    // nullif, not when(locate>0, locate): the CaseWhen branch form would
    // re-run the O(|text|) locate scan per reference (branches are
    // outside codegen CSE — the round-13 BM25 standing-query lesson)
    val positions = terms.map(t => nullif(locate(t, text), lit(0)))
    val first =
      if (positions.size == 1) positions.head
      else least(positions: _*)
    val maxTermLen = terms.map(_.length).max
    when(first.isNotNull,
      text.substr(greatest(first - width, lit(1)), lit(2 * width + maxTermLen)))
      .otherwise(lit(""))
  }

  // ------------------------------------------------ PII scrubbing
  /** Email pattern — deliberately restricted to syntax whose semantics
    * are IDENTICAL in Java regex and RE2 (character classes, bounded
    * quantifiers, no lookaround), so the scrub is oracle-checkable and
    * portable across engines.
    */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"

  /** NANP-style phone pattern (word-bounded `NNN-NNN-NNNN` / `NNN-NNNN`;
    * longest alternative first — both Java regex and RE2 take the
    * leftmost-FIRST alternative, so order is part of the semantics).
    */
  val PhonePattern = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b|\\b[0-9]{3}-[0-9]{4}\\b"

  /** PII SCRUB: replace emails/phones with typed sentinels — the
    * redaction pass a pretraining corpus build runs before anything else
    * ships. Pure `regexp_replace` projection: codegen'd, scan-speed,
    * composes with pruned scans. Order matters and is fixed (emails
    * first — a phone-shaped substring inside an address local-part must
    * not break the address before the email rule sees it).
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Count of PII matches redacted by [[scrubPii]] (emails + phones,
    * counted on the SAME order: phones counted after email redaction so
    * the two totals decompose the replacement exactly).
    */
  def piiCount(text: Column): Column =
    (regexp_count(text, lit(EmailPattern)) +
      regexp_count(regexp_replace(text, EmailPattern, "<EMAIL>"),
        lit(PhonePattern))).cast("long")

  // ------------------------------------------------ bigram novelty
  /** Per-document BIGRAM NOVELTY against corpus-level bigram statistics —
    * the integer-exact core of an n-gram language-model quality score.
    * For each document: how many bigrams it has, the summed corpus
    * frequency of those bigrams ("familiarity" — high = the doc is made
    * of phrases the corpus repeats), and the corpus frequency of its
    * RAREST bigram (1 = contains a corpus-unique phrase). Boilerplate
    * scores high familiarity; genuinely novel text scores low — the same
    * signal a KenLM perplexity filter extracts, kept in integer
    * arithmetic so the row hash-checks bit-exactly (a float log-prob sum
    * would be summation-order-dependent).
    *
    * Scale contract: corpus counts are one partial-agg groupBy(bigram);
    * the doc×counts join shuffles on bigram (both sides keyed, AQE
    * handles the "the the" hot keys); the per-doc rollup partial-aggs.
    * Documents with <2 tokens surface with zeros via the left join —
    * never silently dropped.
    */
  def bigramNovelty(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = docs.select(col(idCol).as("__doc"),
        explode(wordNgrams(col(textCol), 2)).as("bigram"))
    val corpus = bg.groupBy(col("bigram")).agg(count(lit(1)).as("__cf"))
    val perDoc = bg.join(corpus, "bigram")
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__cf")).as("familiarity"),
        min(col("__cf")).as("rarest_cf"))
    docs.select(col(idCol))
      .join(perDoc, docs(idCol) === perDoc("__doc"), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("familiarity"), lit(0L)).as("familiarity"),
        coalesce(col("rarest_cf"), lit(0L)).as("rarest_cf"))
  }
}
