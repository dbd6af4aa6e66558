package graft.store

import org.apache.spark.sql.SparkSession

/** Tiny `_meta` format-descriptor sidecar shared by every persisted
  * index family (IVF, packed IVF, LSH, BM25, shingle postings, banded
  * dHash): each layout depends on build-time constants — a bucket
  * modulus, a hyperplane config, a shingle width, a banding radius — and
  * a reader that derives its prune lists from DIFFERENT constants
  * silently drops candidates. The sidecar records the write-time
  * constants; [[check]] refuses any artifact that does not carry this
  * build's, so every index a reader serves has exactly one format.
  *
  * One plain-text file named `_meta` at the index root (the underscore
  * prefix keeps parquet directory listings from picking it up — the
  * `_tombstones` convention), `key=value` integer lines: no parser
  * dependency, trivially inspectable by hand.
  */
object MetaSidecar {

  /** Default sidecar file name; observability sidecars (e.g. the packed
    * index's `_drift` health record) pass their own.
    */
  val DefaultName = "_meta"

  private def metaPath(dir: String, name: String) =
    new org.apache.hadoop.fs.Path(s"$dir/$name")

  private def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Raw sidecar bytes as UTF-8. */
  private def readRaw(f: org.apache.hadoop.fs.FileSystem,
                      p: org.apache.hadoop.fs.Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** (Over)write the sidecar — idempotent for a given constant set.
    *
    * Writes a temp name and RENAMES it into place rather than
    * truncating the existing file (round-20; ADVICE r19): an in-place
    * `create(overwrite = true)` writes through the existing INODE, and
    * [[graft.core.SessionCache.linkTree]]'s hardlinked views share
    * inodes under the contract that linked bytes are immutable for
    * their lifetime — a `_drift` update or a re-stamped `_meta` through
    * a linked view would silently mutate the cached base
    * artifact. Replacing the directory ENTRY breaks the hardlink
    * instead; the base keeps its bytes.
    */
  def write(spark: SparkSession, dir: String, kv: Seq[(String, Int)],
            name: String = DefaultName): Unit = {
    val p = metaPath(dir, name)
    val f = fs(spark, p)
    val content = kv.map { case (k, v) => s"$k=$v\n" }.mkString
    val tmp = metaPath(dir, s".$name.tmp-${System.nanoTime()}")
    val out = f.create(tmp, /* overwrite = */ true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
    // ATOMIC replacement of the directory entry: a delete-then-rename
    // would leave a crash window in which the sidecar is ABSENT, and an
    // absent sidecar makes every reader refuse a healthy index.
    //
    // On a LOCAL filesystem the truly atomic primitive is POSIX
    // rename(2) via java.nio ATOMIC_MOVE — Hadoop's own
    // FileContext.rename(OVERWRITE) is NOT atomic there (verified
    // against hadoop-client 3.4.2: LocalFs inherits AbstractFileSystem's
    // default, which is delete-then-rename; only HDFS overrides it with
    // an atomic op). The crc discipline around the move: the
    // destination's stale `.crc` sibling is deleted BEFORE the swap, so
    // every crash point leaves `_meta` present with complete old-or-new
    // bytes and at worst no checksum (ChecksumFileSystem reads
    // unverified when the crc is absent — content stays correct); the
    // tmp's crc is dropped after.
    val local = f.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      f.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    try {
      if (local) {
        def nio(x: org.apache.hadoop.fs.Path) =
          java.nio.file.Paths.get(x.toUri.getPath)
        def crcOf(x: org.apache.hadoop.fs.Path) =
          new org.apache.hadoop.fs.Path(x.getParent, s".${x.getName}.crc")
        val fCrc = crcOf(p)
        if (f.exists(fCrc)) f.delete(fCrc, false)
        java.nio.file.Files.move(nio(tmp), nio(p),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        val tCrc = crcOf(tmp)
        if (f.exists(tCrc)) f.delete(tCrc, false)
      } else {
        // Remote FS: FileContext.rename(OVERWRITE) — atomic on HDFS,
        // best-effort (delete-then-rename) on FSes that inherit the
        // default; FSes with no FileContext binding fall back below.
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          f.makeQualified(p).toUri, spark.sparkContext.hadoopConfiguration)
        fc.rename(f.makeQualified(tmp), f.makeQualified(p),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      }
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (f.exists(p)) f.delete(p, false)
        if (!f.rename(tmp, p)) restoreOrDie(f, p, tmp, name, cause = None)
      case e: java.io.IOException =>
        // A failed replacement may have gotten as far as deleting the
        // destination (the non-atomic paths): if the descriptor is gone,
        // the staged tmp is the ONLY remaining copy — try to promote it
        // before giving up, and never report "previous descriptor kept"
        // unless it actually is (per review).
        if (f.exists(p)) {
          f.delete(tmp, false)
          throw new graft.core.EngineError(
            s"could not move $name sidecar into place at $p — the artifact keeps " +
            s"its previous descriptor; re-run the write " +
            s"[${e.getClass.getSimpleName}: ${e.getMessage}]", e)
        } else restoreOrDie(f, p, tmp, name, cause = Some(e))
    }
  }

  /** Last-resort promotion of the staged tmp when the destination is
    * absent mid-replacement; only if THAT also fails is the artifact
    * reported descriptor-less (a loud state every reader refuses).
    */
  private def restoreOrDie(f: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path,
                           tmp: org.apache.hadoop.fs.Path, name: String,
                           cause: Option[Throwable]): Unit = {
    val restored =
      try f.rename(tmp, p)
      catch { case scala.util.control.NonFatal(_) => false }
    if (!restored) {
      val detail = cause.map(e =>
        s" [${e.getClass.getSimpleName}: ${e.getMessage}]").getOrElse("")
      throw new graft.core.EngineError(
        s"could not move $name sidecar into place at $p — the artifact now LACKS " +
        s"its format descriptor (staged copy left at $tmp); re-run the write " +
        s"before serving this index$detail", cause.orNull)
    }
  }

  /** One index family's ON-DISK FORMAT: the `_meta` keys its build
    * writes, in file order; the values a reader expects for them; what
    * a reader under other values would silently get wrong; and the
    * `ceilings` — keys whose recorded value need only be at least the
    * expected one (a banded index serves any radius up to the one it
    * was built at). A family declares only its formats: [[stamp]]
    * writes them, and [[check]] is the one decision on which artifacts
    * a reader accepts.
    */
  final case class Format(what: String, keys: Seq[String], expected: Map[String, Int],
                          reason: String, ceilings: Set[String] = Set.empty) {

    /** This format with `kv`'s values expected too. */
    def expecting(kv: (String, Int)*): Format = copy(expected = expected ++ kv)

    /** This format comparing only `ks`' values — every key must still be
      * recorded; for a compact that re-derives the other constants
      * instead of serving under them.
      */
    def only(ks: String*): Format = copy(expected = expected.filter(kv => ks.contains(kv._1)))
  }

  object Format {

    /** A format whose every key has a build-time value. */
    def of(what: String, consts: Seq[(String, Int)], reason: String,
           ceilings: Set[String] = Set.empty): Format =
      Format(what, consts.map(_._1), consts.toMap, reason, ceilings)
  }

  /** Record `format`'s constants at the index root. */
  def stamp(spark: SparkSession, dir: String, format: Format): Unit = {
    require(format.keys.forall(format.expected.contains),
      s"${format.what}: cannot stamp without a value for every key")
    write(spark, dir, format.keys.map(k => k -> format.expected(k)))
  }

  /** THE format check every family runs at its read, append and probe
    * entry points: the `_meta` sidecar must be present, parseable,
    * record every key of `format`, and match every expected value (or
    * reach it, for a ceiling). Anything else throws an
    * [[graft.core.EngineError]] naming the path, the recorded and the
    * expected values: an index this build cannot verify is rebuilt,
    * never served. Returns the recorded constants.
    */
  def check(spark: SparkSession, dir: String, format: Format): Map[String, Int] =
    recorded(spark, dir, format)

  /** Re-stamp `from`'s checked constants at `to` — a compact's rewrite
    * keeps the constants it took no parameter for.
    */
  def carry(spark: SparkSession, from: String, to: String, format: Format): Unit = {
    val got = recorded(spark, from, format)
    write(spark, to, format.keys.map(k => k -> got(k)))
  }

  /** Whether `dir` has a `_meta` sidecar at all. */
  def present(spark: SparkSession, dir: String): Boolean = {
    val p = metaPath(dir, DefaultName)
    fs(spark, p).exists(p)
  }

  private def recorded(spark: SparkSession, dir: String,
                       format: Format): Map[String, Int] = {
    val p = metaPath(dir, DefaultName)
    val f = fs(spark, p)
    def show(kv: Seq[(String, Any)]) = kv.map { case (k, v) => s"$k=$v" }.mkString(", ")
    val want = format.keys.map { k =>
      format.expected.get(k).fold(s"$k=?") { v =>
        if (format.ceilings(k)) s"$k>=$v" else s"$k=$v" }
    }.mkString(", ")
    def refuse(found: String, cause: Throwable = null): Nothing =
      throw new graft.core.EngineError(
        s"${format.what} at $dir: $found; this build expects $want — " +
        s"${format.reason}; rebuild the index", cause)
    if (!f.exists(p)) refuse(s"no $DefaultName sidecar at $p")
    val text = readRaw(f, p)
    val got =
      try parse(text).toMap
      catch { case e: Exception =>
        refuse(s"unparseable $DefaultName sidecar at $p (content: ${text.trim})", e) }
    val bad = format.keys.filterNot { k =>
      got.get(k).exists(r => format.expected.get(k).forall(v =>
        if (format.ceilings(k)) v <= r else v == r))
    }
    if (bad.nonEmpty)
      refuse(s"$p records ${show(bad.map(k => k -> got.getOrElse(k, "?")))}")
    got
  }

  /** An OBSERVABILITY sidecar's values (e.g. the packed index's `_drift`
    * health record), or None when none was written yet. Format
    * sidecars go through [[check]] instead.
    */
  def read(spark: SparkSession, dir: String, name: String): Option[Map[String, Int]] = {
    val p = metaPath(dir, name)
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else Some(parse(readRaw(f, p)).toMap)
  }

  private def parse(text: String): List[(String, Int)] =
    text.linesIterator.filter(_.contains("="))
      .map { l => val kv = l.split("=", 2); (kv(0).trim, kv(1).trim.toInt) }.toList
}
