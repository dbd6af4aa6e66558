package graft.store

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.Validate
import graft.operators.Embedder

/** The document-store surface — Spark mappings of the reference's ten
  * user-facing verbs over its single `documents` table
  * (`/root/reference/vectolite.py:59-298,538-555`).
  *
  * Storage model: an immutable parquet-backed DataFrame. Mutation verbs
  * (insert/delete) are expressed as *transformations* that produce the next
  * table state — the caller (or [[append]]/[[rewrite]]) persists it. That is
  * the idiomatic big-data shape: copy-on-write over immutable files, exactly
  * what table formats layer over parquet, and it keeps every verb a
  * declarative plan Catalyst can optimize.
  */
object DocStore {

  // ---------------------------------------------------------------- O1 scan
  /** Full scan (`SELECT ... FROM documents`, `vectolite.py:145-146`) —
    * unlike the reference, nothing is materialized on the driver; the scan
    * stays a distributed `FileSourceScanExec` and Catalyst prunes
    * columns/pushes filters into it.
    */
  def scan(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  // ------------------------------------------------------- O2 insert/append
  /** Dense id assignment for a batch of new rows, continuing after
    * `startId` — the Spark analogue of SQLite's AUTOINCREMENT + `lastrowid`
    * (`vectolite.py:63,111`). Dense-and-ordered requires a total order, so
    * this shape is for *append batches* (the reference inserts one row per
    * call; batches of millions are fine, the window is a single sort of the
    * new batch only, never of the existing table).
    */
  def assignIds(newDocs: DataFrame, orderBy: Seq[Column], startId: Long,
                idCol: String = "id"): DataFrame =
    newDocs.withColumn(
      idCol, row_number().over(Window.orderBy(orderBy: _*)) + lit(startId))

  /** Scalable dense id assignment for huge batches: per-partition counts →
    * prefix-sum offsets (one tiny extra job, no global sort/shuffle). Ids
    * are dense and unique but ordered by partition layout, not by a key —
    * the documented trade-off vs [[assignIdsOrdered]] when no key order is
    * required at 100 TB scale.
    */
  def assignIdsScalable(newDocs: DataFrame, startId: Long,
                        idCol: String = "id"): DataFrame = {
    val spark = newDocs.sparkSession
    val schema = StructType(newDocs.schema.fields :+ StructField(idCol, LongType, nullable = false))
    val indexed = newDocs.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ (startId + 1 + i))
    }
    spark.createDataFrame(indexed, schema)
  }

  /** Dense id assignment GLOBALLY ORDERED by `orderBy`, without ever
    * planning a single-partition global window (the [[assignIds]] shape
    * plans `WindowExec: No Partition Defined` — one executor sorts the
    * whole batch, the round-3 scale flag). Construction:
    *
    *  1. range-repartition on the keys (partition i holds strictly lower
    *     keys than partition i+1) and sort within partitions — a normal
    *     parallel sort, the same physical shape as `orderBy`;
    *  2. `zipWithIndex` (one lightweight per-partition count job + a
    *     narrow map) turns (partition, offset) into a dense global index.
    *
    * Consistency across the two jobs comes from SHUFFLE-FILE REUSE, not a
    * persisted copy: the one RDD handle captured below owns one range
    * exchange whose boundaries are sampled exactly once (the shuffle
    * dependency is a lazy val on the exchange node) and whose map outputs
    * are written by the first job and re-read — stage-skipped — by every
    * later one, so all jobs observe the same partition contents. (Round 7
    * persisted MEMORY_AND_DISK here instead and never unpersisted — each
    * ingest call pinned another copy of its batch in the block manager for
    * the session's lifetime, the round-8 leak fix.)
    *
    * Rows with equal keys may order arbitrarily among themselves — callers
    * needing hash-stable output must either make the key total or accept
    * interchangeable ids among equal-key rows (equal rows ⇒ identical
    * output set either way).
    */
  def assignIdsOrdered(newDocs: DataFrame, orderBy: Seq[Column], startId: Long,
                       idCol: String = "id"): DataFrame = {
    val spark = newDocs.sparkSession
    val arranged = newDocs.repartitionByRange(orderBy: _*)
      .sortWithinPartitions(orderBy: _*)
    val schema = StructType(arranged.schema.fields :+ StructField(idCol, LongType, nullable = false))
    val indexed = arranged.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ (startId + 1 + i))
    }
    spark.createDataFrame(indexed, schema)
  }

  /** Full insert pipeline (↔ `insert`, `vectolite.py:81-116`): validate
    * non-empty text, embed, serialize metadata JSON, assign ids after the
    * current max, stamp `created_at`. The clock is injectable so declared
    * queries stay deterministic (SURVEY §7.4).
    */
  def prepareInsert(existingMaxId: Long, newDocs: DataFrame, textCol: String,
                    embedder: Embedder, metadataCols: Seq[String],
                    createdAt: Column = current_timestamp()): DataFrame = {
    val withEmb = embedder.embed(newDocs, textCol, "embedding") // strict: empty text fails (vectolite.py:97-98)
    val withMeta =
      if (metadataCols.nonEmpty)
        withEmb.withColumn("metadata", packMetadata(metadataCols.map(c => col(c).as(c)): _*))
      else withEmb.withColumn("metadata", lit(null).cast("string"))
    assignIds(withMeta, Seq(col(textCol)), existingMaxId)
      .withColumn("created_at", createdAt)
  }

  /** Persist an append batch (the write side of O2). */
  def append(batch: DataFrame, path: String): Unit =
    batch.write.mode("append").parquet(path)

  /** Copy-on-write replacement of a store's contents: write `next` beside
    * `path`, move the live files aside, promote, drop the backup — every
    * FS return value checked, backup restored on a failed promote. The ONE
    * swap protocol shared by delete-rewrite and compaction.
    *
    * ==== SINGLE-WRITER CONTRACT ====
    * The rename/backup/promote sequence is NOT safe under concurrent
    * writers: two interleaved swaps can each move the other's freshly
    * promoted files aside and delete them as "the backup", losing a table
    * version. Exactly one writer may run a swap on a given `path` at a
    * time (readers are fine throughout — they hold the old file listing).
    * A best-effort create-exclusive sentinel (`path.lock`) enforces this
    * within and across well-behaved JVMs: a second concurrent swap fails
    * fast with [[graft.core.EngineError]] instead of corrupting the store.
    * Best-effort only — a writer that dies between create and the finally
    * leaves a stale lock an operator must remove by hand (the lock body
    * records who/when for that diagnosis), and object stores without
    * atomic create-exclusive (e.g. eventual-consistency S3 clients) weaken
    * it to advisory. For a multi-writer production table, use a real table
    * format's transaction log instead of this fixture-grade store.
    */
  def replaceContents(spark: SparkSession, path: String, next: DataFrame): Unit =
    swapDirContents(spark, path)(tmp => next.write.parquet(tmp))

  /** The swap half of [[replaceContents]], shared with index compaction
    * ([[graft.operators.AnnIndex.compactIndex]]): run `writeTo` against a
    * fresh temp dir next to `path`, then atomically promote it — old dir
    * renamed aside, temp renamed in, backup removed — under the same
    * create-exclusive single-writer lock. `writeTo` may lazily READ from
    * `path` (the renames happen only after it returns), which is exactly
    * how compaction rewrites a live dir.
    */
  def swapDirContents(spark: SparkSession, path: String)(writeTo: String => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = acquireSwapLock(spark, path)
    try {
      val tmp = new org.apache.hadoop.fs.Path(path + s".tmp-${System.nanoTime()}")
      val bak = new org.apache.hadoop.fs.Path(path + s".bak-${System.nanoTime()}")
      writeTo(tmp.toString)
      if (fs.exists(p) && !fs.rename(p, bak))
        throw new graft.core.EngineError(s"could not move live store aside: $p")
      if (!fs.rename(tmp, p)) {
        if (fs.exists(bak)) fs.rename(bak, p) // restore
        throw new graft.core.EngineError(s"could not promote new store files: $tmp -> $p")
      }
      if (fs.exists(bak) && !fs.delete(bak, true))
        throw new graft.core.EngineError(s"store updated but backup not removed: $bak")
    } finally {
      fs.delete(lock, false)
    }
  }

  /** Acquire the swap's create-exclusive lock (`<path>.lock`) and write
    * the owner diagnostics; shared by [[swapDirContents]] and
    * [[withSwapLock]]. The caller owns releasing it.
    */
  private def acquireSwapLock(spark: SparkSession,
                              path: String): org.apache.hadoop.fs.Path = {
    val lock = new org.apache.hadoop.fs.Path(path + ".lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lockOut =
      try fs.create(lock, /* overwrite = */ false)
      catch {
        // Only an actually-held lock is "swap in progress" — a permissions
        // or filesystem failure must surface as itself, not as advice to
        // go remove a lock that does not exist (round-9, per advisor).
        case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
          throw new graft.core.EngineError(
            s"store swap already in progress (single-writer contract): lock $lock exists; " +
            s"if its owner crashed, inspect and remove it by hand [${e.getClass.getSimpleName}]")
        case e: java.io.IOException if fs.exists(lock) =>
          throw new graft.core.EngineError(
            s"store swap already in progress (single-writer contract): lock $lock exists; " +
            s"if its owner crashed, inspect and remove it by hand [${e.getClass.getSimpleName}]")
        case e: java.io.IOException =>
          throw new graft.core.EngineError(
            s"could not create swap lock $lock (NOT a contention signal — check path and permissions): " +
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    // Lock body: owner diagnostics for stale-lock cleanup. If writing the
    // body fails, the lock FILE already exists but no caller has installed
    // its try/finally yet — delete it before rethrowing, or the orphan
    // blocks every later compact/delete/commit on this index until manual
    // removal (r20 advisor: a robustness regression vs the pre-refactor
    // code, whose lock-body write ran inside the releasing try).
    try {
      lockOut.write(
        s"pid=${ProcessHandle.current().pid()} epochMs=${System.currentTimeMillis()}\n"
          .getBytes("UTF-8"))
      lockOut.close()
    } catch {
      case e: Throwable =>
        try lockOut.close() catch { case _: Throwable => () }
        try fs.delete(lock, false) catch { case _: Throwable => () }
        throw e
    }
    lock
  }

  /** Run `body` while HOLDING the index's swap lock — the mutual
    * exclusion a write outside the epoch protocol needs against a
    * concurrent compact, which would otherwise swap it away unseen (see
    * [[Tombstones]] for the delete case). A held lock fails fast with
    * the standard in-progress error.
    */
  def withSwapLock[A](spark: SparkSession, path: String)(body: => A): A = {
    val lock = acquireSwapLock(spark, path)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try body
    finally fs.delete(lock, false)
  }

  /** Compact a store that accumulated small append files into
    * `targetFiles` parquet files, optionally RANGE-SORTED on a column —
    * sort-on-write is the Spark-native substitute for the reference's
    * `idx_documents_created_at` B-tree (`vectolite.py:70`, SURVEY §1.3):
    * parquet min/max row-group stats then prune time-range scans the way
    * the index accelerated `list` queries. Copy-on-write via
    * [[replaceContents]].
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int,
              sortBy: Option[String] = Some("created_at")): Unit = {
    val df = spark.read.parquet(path)
    val arranged = sortBy match {
      case Some(c) => df.repartitionByRange(targetFiles, col(c))
        .sortWithinPartitions(col(c))
      case None => df.repartition(targetFiles)
    }
    replaceContents(spark, path, arranged)
  }

  // --------------------------------------------------------- O3 point lookup
  /** `get_document(id)` (`vectolite.py:268-298`): equality predicate is
    * pushed into the parquet scan (row-group stat pruning), `limit(1)`
    * short-circuits — O(pruned scan), no shuffle.
    */
  def getDocument(docs: DataFrame, idCol: String, id: Long): DataFrame =
    docs.filter(col(idCol) === id).limit(1)

  // -------------------------------------------------------------- O4 delete
  /** `delete_document(id)` (`vectolite.py:186-199`) — no in-place mutation
    * on immutable files, so delete is the left-anti-join rewrite: the next
    * table state excludes the ids. For a literal id list the anti-join
    * collapses to a pushed-down NOT IN filter; for a DataFrame of ids Spark
    * broadcasts the (small) delete set — no shuffle of the big table.
    */
  def deleteByIds(docs: DataFrame, idCol: String, ids: Seq[Long]): DataFrame =
    docs.filter(!col(idCol).isin(ids: _*))

  def deleteByIds(docs: DataFrame, idCol: String, ids: DataFrame): DataFrame =
    docs.join(broadcast(ids), docs(idCol) === ids(ids.columns.head), "left_anti")

  /** Deleted-row count — the analogue of `rowcount > 0` (`vectolite.py:197`). */
  def deleteCount(docs: DataFrame, idCol: String, ids: Seq[Long]): Long =
    docs.filter(col(idCol).isin(ids: _*)).count()

  // --------------------------------------------------------------- O5 count
  /** `count_documents()` (`vectolite.py:176-184`) — partial+final
    * HashAggregate; each executor contributes one partial count.
    */
  def countDocuments(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"))

  // ------------------------------------------------ O6/O7/O8 list + truncate
  /** Display-text truncation (`vectolite.py:240-251`): first `maxLen` chars
    * + "..." only when longer, else unchanged.
    */
  def displayText(text: Column, maxLen: Int): Column =
    when(length(text) > maxLen, concat(substring(text, 1, maxLen), lit("...")))
      .otherwise(text)

  /** `list_documents(limit, offset, include_text, max_text_length)`
    * (`vectolite.py:201-266`): total order (desc + id tiebreak, the
    * distributed substitute for SQLite's stable scan), OFFSET/LIMIT pushed
    * into a single GlobalLimit(+offset) — only `offset+limit` rows ever
    * reach the driver side of the sort. Projection variants prune columns
    * into the scan (O7).
    */
  def listDocuments(docs: DataFrame, orderCol: String, idCol: String,
                    limit: Int, offset: Int,
                    includeText: Boolean, textCol: String = "text",
                    maxTextLength: Int = 100): DataFrame = {
    val ordered = docs.orderBy(col(orderCol).desc, col(idCol).asc)
    val page = (if (offset > 0) ordered.offset(offset) else ordered).limit(limit)
    if (includeText)
      page.withColumn("display_text", displayText(col(textCol), maxTextLength))
        .withColumn("full_text_length", length(col(textCol)))  // vectolite.py:249
        .drop(textCol)
    else
      page.drop(textCol)
  }

  // ------------------------------------------------------- O15 JSON metadata
  /** `json.dumps(metadata)` analogue (`vectolite.py:103`): canonical
    * compact JSON with struct-declared key order, for oracle-stable output.
    */
  def packMetadata(fields: Column*): Column = to_json(struct(fields: _*))

  /** `json.loads(metadata or "{}")[key]` analogue (`vectolite.py:168,250`):
    * NULL metadata collapses to the empty object, so a missing key is null
    * not an error.
    */
  def metadataField(metadata: Column, key: String): Column =
    get_json_object(coalesce(metadata, lit("{}")), s"$$.$key")

  // --------------------------------------------------------------- O16 stats
  /** `stats` (`vectolite.py:538-555`): document count + storage size. The
    * reference reports the SQLite file size; ours reports the sum of
    * parquet file sizes backing the table (same "how big is my DB" answer).
    */
  def stats(spark: SparkSession, docs: DataFrame, path: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val bytes = p.getFileSystem(conf).getContentSummary(p).getLength
    docs.agg(
      count(lit(1)).as("n_docs"),
      lit(bytes).as("storage_bytes"),
      round(lit(bytes / 1048576.0), 6).as("storage_mb"))
  }

  /** Pure-relational stats twin (oracle-checkable): count + char totals. */
  def textStats(docs: DataFrame, textCol: String): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      sum(length(col(textCol))).as("total_chars"),
      round(avg(length(col(textCol))), 6).as("avg_chars"))

  // -------------------------------------------------- interchange (JSONL)
  // Microsecond timestamp format: Spark's JSON default writes millis,
  // which would silently truncate created_at on a round-trip.
  private val JsonlTsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** Export the store as JSON-lines — the lingua-franca dump format for
    * document corpora (embeddings as JSON float arrays, timestamps ISO
    * with microseconds). Distributed writer; one file per partition.
    * Null fields are KEPT so all-null columns (e.g. metadata) survive.
    */
  def exportJsonl(docs: DataFrame, path: String): Unit =
    docs.write.mode("overwrite")
      .option("timestampFormat", JsonlTsFormat)
      .option("ignoreNullFields", "false")
      .json(path)

  /** Import a JSONL dump back into store shape. The canonical schema is
    * SUPPLIED to the reader (no inference), so all-null columns and even
    * an empty dump import cleanly, and embeddings parse straight into
    * float32.
    */
  def importJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(graft.core.Tables.documentStoreSchema)
      .option("timestampFormat", JsonlTsFormat)
      .json(path)

  // ---------------------------------------------------------- O17 validation
  /** Driver-side input guards, same messages as the reference
    * (`vectolite.py:97-98,137-138,419-420`).
    */
  def validateInsertText(text: String): Unit = Validate.nonEmptyText(text)
  def validateTopK(k: Int): Unit = Validate.positiveTopK(k)
  def validatePath(path: String): Unit = Validate.supportedSuffix(path)
}
