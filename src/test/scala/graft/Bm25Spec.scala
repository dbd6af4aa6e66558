package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bm25, IndexedBm25}

/** BM25 + hybrid fusion: the scorer against a plain-Scala brute force, the
  * persisted inverted index against the direct scan (build AND append
  * lifecycles), partition pruning on the probe, and exact RRF arithmetic.
  */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "apple"),
    (4L, "dog dog dog dog"),
    (5L, ""))

  private def corpusDF = corpus.toDF("doc_id", "text")

  /** Plain-Scala BM25 over the same corpus — an independent formulation
    * (loops + Math.log) the Column pipeline must reproduce to 1e-9.
    */
  private def brute(terms: Seq[String], k1: Double = 1.2, b: Double = 0.75)
      : Map[Long, Double] = {
    val toks = corpus.map { case (id, t) =>
      id -> t.trim.split("\\s+").filter(_.nonEmpty).toSeq
    }.toMap
    val n = corpus.size.toDouble
    val total = toks.values.map(_.size).sum.toDouble
    val avgdl = total / n
    toks.flatMap { case (id, ts) =>
      val score = terms.map { q =>
        val tf = ts.count(_ == q).toDouble
        if (tf == 0) 0.0
        else {
          val df = toks.values.count(_.contains(q)).toDouble
          math.log(1.0 + (n - df + 0.5) / (df + 0.5)) *
            tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * ts.size / avgdl))
        }
      }.sum
      if (score > 0) Some(id -> score) else None
    }
  }

  test("topK matches a plain-Scala brute force, ranked desc with doc_id tiebreak") {
    val terms = Seq("apple", "cherry")
    val got = Bm25.topK(corpusDF, "doc_id", "text", terms, k = 10)
      .as[(Long, Double)].collect()
    val exp = brute(terms)
    assert(got.map(_._1).toSet == exp.keySet) // only matching docs emitted
    got.foreach { case (id, s) => assert(math.abs(s - exp(id)) < 1e-6, s"doc $id") }
    val resorted = got.sortBy { case (id, s) => (-s, id) }.toSeq
    assert(got.toSeq == resorted, "not ranked by (score desc, doc_id)")
    // k bounds the output
    assert(Bm25.topK(corpusDF, "doc_id", "text", terms, k = 1).count() == 1)
  }

  test("length normalization: same tf, shorter doc ranks first") {
    // "banana" appears in d1 (tf=1, dl=3) and d2 (tf=1, dl=2): shorter wins
    val ban = Bm25.topK(corpusDF, "doc_id", "text", Seq("banana"), 10)
      .as[(Long, Double)].collect()
    assert(ban.map(_._1).toSeq == Seq(2L, 1L), s"got ${ban.toSeq}")
  }

  test("indexed probe == direct scan, for a one-shot build AND after append") {
    val terms = Seq("apple", "cherry")
    val direct = Bm25.topK(corpusDF, "doc_id", "text", terms, 10)
      .as[(Long, Double)].collect().toSeq

    val p1 = java.nio.file.Files.createTempDirectory("graft-bm25-idx").toString
    IndexedBm25.build(corpusDF, "doc_id", "text", p1)
    val probed = IndexedBm25.topK(spark, p1, terms, 10)
    // the postings scan must prune to the query terms' hash partitions
    val scanLine = probed.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("pt"), s"no partition filter on probe:\n$scanLine")
    assert(probed.as[(Long, Double)].collect().toSeq == direct)

    // lifecycle: build on a prefix, append the rest — probe == direct
    val p2 = java.nio.file.Files.createTempDirectory("graft-bm25-idx2").toString
    IndexedBm25.build(corpusDF.filter(col("doc_id") <= 2), "doc_id", "text", p2)
    IndexedBm25.append(corpusDF.filter(col("doc_id") > 2), "doc_id", "text", p2)
    assert(IndexedBm25.topK(spark, p2, terms, 10)
      .as[(Long, Double)].collect().toSeq == direct)
  }

  test("layout _meta: partition-modulus mismatch refuses probe and append loudly; compact migrates (r20)") {
    // VERDICT r19 "missing" #2 — the silent-candidate-subset hazard r19
    // closed for IVF + dHash, closed here for the postings family: a
    // probe pruning `pt` dirs under a modulus different from the
    // artifact's silently drops postings.
    val terms = Seq("apple", "cherry")
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-meta").toString
    IndexedBm25.build(corpusDF, "doc_id", "text", path)
    // the build stamped this build's constants
    assert(graft.store.MetaSidecar.read(spark, path, graft.store.MetaSidecar.DefaultName).contains(
      Map("formatVersion" -> IndexedBm25.FormatVersion,
        "partitions" -> IndexedBm25.Partitions)))
    val direct = IndexedBm25.topK(spark, path, terms, 10)
      .as[(Long, Double)].collect().toSeq

    // tamper through the hadoop FS (java.nio would desync the local-FS
    // .crc sidecar and reads would fail on ChecksumException, not our guard)
    def writeMetaRaw(content: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$path/_meta")
      val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    writeMetaRaw(s"formatVersion=${IndexedBm25.FormatVersion}\npartitions=32\n")
    // every probe family funnels through the one pruned scan — each
    // entry point must refuse, and so must append (it would stage under
    // a second modulus into the same tree)
    val e1 = intercept[graft.core.EngineError](
      IndexedBm25.topK(spark, path, terms, 10).collect())
    assert(e1.getMessage.contains("partitions=32"), e1.getMessage)
    intercept[graft.core.EngineError](
      IndexedBm25.phraseSearch(spark, path, Seq("apple", "banana")).collect())
    intercept[graft.core.EngineError](
      IndexedBm25.proximitySearch(spark, path, Seq("apple", "banana"), 5).collect())
    intercept[graft.core.EngineError](
      IndexedBm25.append(corpusDF.limit(1), "doc_id", "text", path))
    // a corrupt sidecar is loud too (never "assume compatible")
    writeMetaRaw("partitions=not-a-number\n")
    intercept[graft.core.EngineError](
      IndexedBm25.topK(spark, path, terms, 10).collect())

    // compact reads without pruning (modulus-independent) — it is the
    // documented migration: re-derives pt under this build's constant,
    // stamps what it wrote, and the probe serves the same results
    writeMetaRaw(s"formatVersion=${IndexedBm25.FormatVersion}\npartitions=32\n")
    IndexedBm25.compact(spark, path)
    assert(graft.store.MetaSidecar.read(spark, path, graft.store.MetaSidecar.DefaultName).contains(
      Map("formatVersion" -> IndexedBm25.FormatVersion,
        "partitions" -> IndexedBm25.Partitions)))
    assert(IndexedBm25.topK(spark, path, terms, 10)
      .as[(Long, Double)].collect().toSeq == direct)
  }

  test("phraseSearch: positional-index probe == full-scan phrasePositions; pruned, delete-aware") {
    // full-scan reference over the same corpus
    def scanPhrase(df: org.apache.spark.sql.DataFrame, phrase: Seq[String]) =
      df.select(col("doc_id"),
          operators.TextAnalysis.phrasePositions(col("text"), phrase).as("p"))
        .select(col("doc_id"), size(col("p")).cast("long").as("n_hits"),
          coalesce(array_min(col("p")), lit(0)).cast("long").as("first_pos"))
        .filter(col("n_hits") > 0)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq

    val path = java.nio.file.Files.createTempDirectory("graft-bm25-phrase").toString
    // build + append lifecycle: positions must survive the append too
    IndexedBm25.build(corpusDF.filter(col("doc_id") <= 2), "doc_id", "text", path)
    IndexedBm25.append(corpusDF.filter(col("doc_id") > 2), "doc_id", "text", path)

    for (phrase <- Seq(
        Seq("apple", "banana"),        // matches doc 1 at pos 1
        Seq("banana", "apple"),        // matches doc 1 at pos 2
        Seq("dog", "dog"),             // duplicate-term phrase: doc 4, hits at 1..3
        Seq("banana"),                 // single-term phrase = term occurrences
        Seq("cherry", "apple"))) {     // no match anywhere
      val got = IndexedBm25.phraseSearch(spark, path, phrase)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == scanPhrase(corpusDF, phrase), s"phrase $phrase: $got")
    }
    // the dup-term case concretely: "dog dog" in "dog dog dog dog"
    assert(IndexedBm25.phraseSearch(spark, path, Seq("dog", "dog"))
      .as[(Long, Long, Long)].collect().toSeq == Seq((4L, 3L, 1L)))

    // the probe prunes to the phrase terms' hash partitions
    val plan = IndexedBm25.phraseSearch(spark, path, Seq("apple", "banana"))
      .queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("pt"), s"no partition filter on phrase probe:\n$scanLine")

    // delete-aware: tombstoned doc can never match
    IndexedBm25.delete(spark, path, Seq(1L))
    assert(IndexedBm25.phraseSearch(spark, path, Seq("apple", "banana"))
      .as[(Long, Long, Long)].collect().isEmpty)
    // and after compact the physical rewrite preserves positions
    IndexedBm25.compact(spark, path)
    assert(IndexedBm25.phraseSearch(spark, path, Seq("dog", "dog"))
      .as[(Long, Long, Long)].collect().toSeq == Seq((4L, 3L, 1L)))
  }

  test("proximitySearch: min covering span == brute force; window cut; validation") {
    import graft.operators.Bm25Positional.minimalSpan
    // unit: smallest-range two-pointer against hand-checked cases
    assert(minimalSpan(Seq(Array(1), Array(2))) == 2)          // adjacent
    assert(minimalSpan(Seq(Array(2), Array(1))) == 2)          // order-free
    assert(minimalSpan(Seq(Array(1, 10), Array(12))) == 3)     // later pair wins
    assert(minimalSpan(Seq(Array(1, 5, 9), Array(3), Array(4))) == 3) // 3,4,5
    assert(minimalSpan(Seq(Array(7), Array(7))) == 1)          // degenerate

    val prox = Seq(
      (1L, "vector x x stream"),          // span 4
      (2L, "stream y vector"),            // span 3 (reverse order)
      (3L, "vector a b c d e f g h i j stream"), // span 12 > window
      (4L, "vector only here"),           // missing a term
      (5L, "z vector stream z vector"))   // span 2
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-prox").toString
    IndexedBm25.build(prox, "doc_id", "text", path)
    val got = IndexedBm25.proximitySearch(spark, path,
        Seq("vector", "stream"), window = 10)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 4L), (2L, 3L), (5L, 2L)), got.toString)

    intercept[IllegalArgumentException] {
      IndexedBm25.proximitySearch(spark, path, Seq("vector"), 10)
    }
    intercept[IllegalArgumentException] {
      IndexedBm25.proximitySearch(spark, path, Seq("vector", "stream"), 1)
    }
  }

  test("topKBatch: many queries in one plan, each equal to its per-query probe") {
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-batch").toString
    IndexedBm25.build(corpusDF, "doc_id", "text", path)
    val queries = Seq(
      (0L, Seq("apple", "cherry")),
      (1L, Seq("banana")),
      (2L, Seq("dog", "apple"))).toDF("q_id", "terms")
    val batch = IndexedBm25.topKBatch(spark, path, queries, k = 3)
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    for ((qid, terms) <- Seq(0L -> Seq("apple", "cherry"),
                             1L -> Seq("banana"), 2L -> Seq("dog", "apple"))) {
      val direct = Bm25.topK(corpusDF, "doc_id", "text", terms, 3)
        .as[(Long, Double)].collect().toSeq
      assert(batch(qid) == direct, s"q$qid: ${batch(qid)} vs $direct")
    }
    // a term duplicated INSIDE a query's array must not double-count
    val dup = IndexedBm25.topKBatch(spark, path,
        Seq((9L, Seq("banana", "banana"))).toDF("q_id", "terms"), k = 3)
      .as[(Long, Long, Double, Long)].collect()
      .sortBy(_._4).map(r => (r._2, r._3)).toSeq
    assert(dup == batch(1L), s"dup-term query double-counted: $dup")
  }

  test("phraseSearchBatch / proximitySearchBatch: each query equals its single-query probe") {
    val corpus = Seq(
      (1L, "apple banana apple banana"),   // "apple banana" ×2
      (2L, "banana cherry apple"),
      (3L, "apple x x banana"),            // proximity 4, no adjacency
      (4L, "dog dog dog"),                 // dup-term phrase
      (5L, "banana apple banana"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-pbatch").toString
    IndexedBm25.build(corpus, "doc_id", "text", path)

    val phrases = Seq(
      0L -> Seq("apple", "banana"),
      1L -> Seq("dog", "dog"),
      2L -> Seq("banana"),                 // 1-token phrase
      3L -> Seq("cherry", "dog"))          // no doc holds both adjacent
    val batch = IndexedBm25.phraseSearchBatch(spark, path,
        phrases.toDF("q_id", "phrase"), k = 10)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    for ((qid, ph) <- phrases) {
      val single = IndexedBm25.phraseSearch(spark, path, ph)
        .select(col("doc_id"), col("n_hits"))
        .as[(Long, Long)].collect()
        .sortBy { case (d, h) => (-h, d) }.take(10).toSeq
      assert(batch.getOrElse(qid, Seq.empty) == single,
        s"phrase q$qid: ${batch.get(qid)} vs $single")
    }

    val prox = Seq(
      0L -> Seq("apple", "banana"),
      1L -> Seq("cherry", "apple"),
      2L -> Seq("apple", "banana", "cherry")) // 3-term k-way span
    val proxBatch = IndexedBm25.proximitySearchBatch(spark, path,
        prox.toDF("q_id", "terms"), window = 10, k = 10)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    for ((qid, ts) <- prox) {
      val single = IndexedBm25.proximitySearch(spark, path, ts, window = 10)
        .as[(Long, Long)].collect()
        .sortBy { case (d, s) => (s, d) }.take(10).toSeq
      assert(proxBatch.getOrElse(qid, Seq.empty) == single,
        s"prox q$qid: ${proxBatch.get(qid)} vs $single")
    }
  }

  test("batch probes validate per query row like their single-probe twins (r16 advisor)") {
    val corpus = Seq((1L, "apple banana cherry")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-vbatch").toString
    IndexedBm25.build(corpus, "doc_id", "text", path)

    // empty phrase array: single form throws — batch must too, naming the row
    val e1 = intercept[IllegalArgumentException](
      IndexedBm25.phraseSearchBatch(spark, path,
        Seq(0L -> Seq("apple"), 1L -> Seq.empty[String]).toDF("q_id", "phrase"), k = 5))
    assert(e1.getMessage.contains("q_id=1"), e1.getMessage)

    // window too small for the query's distinct-term count: a 3-term
    // query with window=2 can never match — fail loudly, not empty-forever
    val e2 = intercept[IllegalArgumentException](
      IndexedBm25.proximitySearchBatch(spark, path,
        Seq(7L -> Seq("apple", "banana", "cherry")).toDF("q_id", "terms"),
        window = 2, k = 5))
    assert(e2.getMessage.contains("q_id=7") && e2.getMessage.contains("3 distinct"),
      e2.getMessage)

    // single-term proximity query: same >=2-distinct-terms contract
    val e3 = intercept[IllegalArgumentException](
      IndexedBm25.proximitySearchBatch(spark, path,
        Seq(8L -> Seq("apple", "apple")).toDF("q_id", "terms"), window = 5, k = 5))
    assert(e3.getMessage.contains("q_id=8"), e3.getMessage)

    // well-formed rows still serve
    assert(IndexedBm25.proximitySearchBatch(spark, path,
      Seq(9L -> Seq("apple", "cherry")).toDF("q_id", "terms"), window = 5, k = 5)
      .count() == 1L)
  }

  test("batch-probe validation rides the one standing-set job (r16 wrong #3)") {
    val corpus = Seq((1L, "apple banana cherry")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-jbatch").toString
    IndexedBm25.build(corpus, "doc_id", "text", path)

    // the two failure modes carry DISTINCT messages (r16 advisor: the
    // conflated message blamed term count for a window problem) …
    val eFew = intercept[IllegalArgumentException](
      IndexedBm25.proximitySearchBatch(spark, path,
        Seq((0L, null.asInstanceOf[Seq[String]])).toDF("q_id", "terms"),
        window = 5, k = 5))
    // … and a null terms array reports 0 distinct terms, never legacy -1
    assert(eFew.getMessage.contains("0 distinct") &&
      !eFew.getMessage.contains("cannot hold"), eFew.getMessage)
    val eWin = intercept[IllegalArgumentException](
      IndexedBm25.proximitySearchBatch(spark, path,
        Seq(1L -> Seq("apple", "banana", "cherry")).toDF("q_id", "terms"),
        window = 2, k = 5))
    assert(eWin.getMessage.contains("cannot hold") &&
      !eWin.getMessage.contains("needs >= 2"), eWin.getMessage)

    // constructing a batch probe runs EXACTLY ONE Spark job — the
    // standing-set collect that the pruned scan always needed; the
    // per-row validation rides it instead of a second driver job
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      IndexedBm25.phraseSearchBatch(spark, path,
        Seq(0L -> Seq("apple", "banana")).toDF("q_id", "phrase"), k = 5)
      IndexedBm25.proximitySearchBatch(spark, path,
        Seq(0L -> Seq("apple", "cherry")).toDF("q_id", "terms"), window = 5, k = 5)
      // listener events are async — wait for them to drain, bounded
      val deadline = System.nanoTime() + 5000000000L
      while (jobs < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(300) // catch any straggler job this would make > 2
      assert(jobs == 2, s"expected 1 job per batch-probe construction, saw $jobs for 2")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("delete: tombstoned probe == rebuild-without; compact folds physically; idempotent") {
    val terms = Seq("apple", "banana", "cherry")
    val survivors = corpusDF.filter(col("doc_id") =!= 1L && col("doc_id") =!= 4L)
    val expect = Bm25.topK(survivors, "doc_id", "text", terms, 10)
      .as[(Long, Double)].collect().toSeq

    val path = java.nio.file.Files.createTempDirectory("graft-bm25-del").toString
    IndexedBm25.build(corpusDF, "doc_id", "text", path)
    IndexedBm25.delete(spark, path, Seq(1L, 4L, 999L)) // unknown id = no-op
    val afterDelete = IndexedBm25.topK(spark, path, terms, 10)
      .as[(Long, Double)].collect().toSeq
    assert(afterDelete == expect, s"$afterDelete vs $expect")
    // the unknown id must NOT be tombstoned (a later append may use it)
    assert(spark.read.parquet(s"$path/tombstones")
      .as[Long].collect().toSet == Set(1L, 4L))
    // frozen stats exclude the deleted docs too
    val (_, n, total) = IndexedBm25.frozenStats(spark, path, terms)
    assert(n == 3L && total == survivors
      .select(sum(operators.TextAnalysis.tokenCount(col("text")))).head.getLong(0))

    // double-delete: no stats drift
    IndexedBm25.delete(spark, path, Seq(1L))
    assert(IndexedBm25.frozenStats(spark, path, terms)._2 == 3L)

    // compact: tombstones fold physically, probe unchanged, no tombstone dir
    IndexedBm25.compact(spark, path)
    assert(IndexedBm25.topK(spark, path, terms, 10)
      .as[(Long, Double)].collect().toSeq == expect)
    assert(spark.read.parquet(s"$path/doclens").count() == 3L)
  }

  test("overlapping deletes: tombstone-only writes keep stats exact (the r13 race)") {
    // The ADVICE r13 scenario: two deletes with overlapping ids. Under
    // the old two-write form (negative meta delta + tombstones), both
    // readers-then-writers double-subtracted the overlap; with the
    // tombstone file as sole source of truth, stats derive from the
    // DISTINCT tombstoned set at read time — overlap is harmless.
    val terms = Seq("apple", "banana", "cherry")
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-race").toString
    IndexedBm25.build(corpusDF, "doc_id", "text", path)
    IndexedBm25.delete(spark, path, Seq(1L, 2L))
    IndexedBm25.delete(spark, path, Seq(2L, 3L)) // overlaps on 2
    val survivors = corpusDF.filter(!col("doc_id").isin(1L, 2L, 3L))
    val (_, n, total) = IndexedBm25.frozenStats(spark, path, terms)
    assert(n == 2L, s"n=$n — overlap double-subtracted?")
    assert(total == survivors
      .select(sum(operators.TextAnalysis.tokenCount(col("text")))).head.getLong(0))
    // probe == rebuild over the survivors, and compact preserves it
    val expect = Bm25.topK(survivors, "doc_id", "text", terms, 10)
      .as[(Long, Double)].collect().toSeq
    assert(IndexedBm25.topK(spark, path, terms, 10)
      .as[(Long, Double)].collect().toSeq == expect)
    IndexedBm25.compact(spark, path)
    assert(IndexedBm25.topK(spark, path, terms, 10)
      .as[(Long, Double)].collect().toSeq == expect)
    assert(IndexedBm25.frozenStats(spark, path, terms)._2 == 2L)
  }

  test("rrfFuse: exact reciprocal-rank arithmetic, full-outer semantics, tiebreak") {
    val lex = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("doc_id", "rank")
    val sem = Seq((20L, 1L), (40L, 2L)).toDF("doc_id", "rank")
    val got = Bm25.rrfFuse(lex, sem, k = 10).as[(Long, Double)].collect().toSeq
    def r(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp = Seq(
      20L -> r(1.0 / 62 + 1.0 / 61), // in both lists
      10L -> r(1.0 / 61),
      40L -> r(1.0 / 62),
      30L -> r(1.0 / 63))
    assert(got == exp, s"got ${got.toList}")
    // equal-rrf docs order by doc_id
    val tie = Bm25.rrfFuse(
      Seq((7L, 1L)).toDF("doc_id", "rank"),
      Seq((3L, 1L)).toDF("doc_id", "rank"), k = 10)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(tie == Seq(3L, 7L))
  }

  test("validation: empty terms, bad k; dup terms dedup identically in every form") {
    intercept[IllegalArgumentException] {
      Bm25.topK(corpusDF, "doc_id", "text", Seq.empty, 10)
    }
    intercept[Exception] {
      Bm25.topK(corpusDF, "doc_id", "text", Seq("a"), 0)
    }
    // ONE dup-term contract (round-14): every serving form silently
    // dedups, so scan and indexed probe are drop-in replacements.
    val clean = Bm25.topK(corpusDF, "doc_id", "text", Seq("apple", "banana"), 10)
      .as[(Long, Double)].collect().toSeq
    val dup = Bm25.topK(corpusDF, "doc_id", "text",
        Seq("apple", "banana", "apple"), 10)
      .as[(Long, Double)].collect().toSeq
    assert(dup == clean, s"scan dup-dedup: $dup vs $clean")
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-dup").toString
    IndexedBm25.build(corpusDF, "doc_id", "text", path)
    val idxDup = IndexedBm25.topK(spark, path, Seq("apple", "banana", "apple"), 10)
      .as[(Long, Double)].collect().toSeq
    assert(idxDup == clean, s"indexed dup-dedup: $idxDup vs $clean")

    // edge inputs: nothing for an empty input, for terms absent from the
    // corpus, or for a corpus with no tokens at all (its length norm is
    // 0·n/0 = NaN, and no NaN row may escape); k beyond the matches
    // returns just the matches, ranked
    def scan(docs: org.apache.spark.sql.DataFrame, terms: Seq[String], k: Int) =
      Bm25.topK(docs, "doc_id", "text", terms, k).as[(Long, Double)].collect().toSeq
    assert(scan(corpusDF.filter(lit(false)), Seq("apple"), 10).isEmpty)
    assert(scan(corpusDF, Seq("zebra", "yak"), 10).isEmpty)
    assert(scan(Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text"),
      Seq("apple"), 10).isEmpty)
    val exp = brute(Seq("banana", "zebra"))
    val few = scan(corpusDF, Seq("banana", "zebra"), 10)
    assert(few.map(_._1) == Seq(2L, 1L), s"got $few")
    few.foreach { case (id, s) => assert(math.abs(s - exp(id)) < 1e-6, s"doc $id") }
  }

  test("direct scan == indexed probe on the sf0.01 documents for 30 seeded queries") {
    val sf001 = new java.io.File(Sf0001).getParent + "/sf0.01"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-sf001").toString
    IndexedBm25.build(docs, "doc_id", "text", path)
    // query terms: corpus tokens of every frequency, plus absent ones
    val vocab = docs.select(explode(graft.operators.TextAnalysis.tokens(col("text"))))
      .distinct().orderBy(col("col")).as[String].collect()
    val rnd = new scala.util.Random(5L)
    val answered = (1 to 30).count { i =>
      val terms = Seq.fill(1 + rnd.nextInt(4))(
        if (rnd.nextInt(6) == 0) s"absent$i" else vocab(rnd.nextInt(vocab.length)))
      val k = Seq(1, 5, 10, 50)(rnd.nextInt(4))
      val direct = Bm25.topK(docs, "doc_id", "text", terms, k)
        .as[(Long, Double)].collect().toSeq
      val probed = IndexedBm25.topK(spark, path, terms, k)
        .as[(Long, Double)].collect().toSeq
      assert(direct == probed, s"query $i ${terms.mkString("[", ",", "]")} k=$k")
      direct.nonEmpty
    }
    assert(answered >= 25, s"only $answered of 30 queries matched anything")
  }
}
