package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed unit operation of a workload. `traced` marks the samples taken
  * while the tracer was active.
  */
final case class Sample(kind: String, ms: Double, traced: Boolean)

/** What every workload shares: the session, the seeded generator, the
  * tracer, the run's scratch directory, and the op ledger (samples,
  * attempted and failed counts).
  */
final class Ctx(val spark: SparkSession, val seed: Long, val workDir: String,
                val tracer: Tracer, val tracing: Boolean) {
  val gen = new Gen(seed)
  val cores: Int = spark.sparkContext.defaultParallelism
  val samples = ArrayBuffer.empty[Sample]
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  /** Off while warming up: operations still run and are checked, but
    * their times are not kept.
    */
  var recording = true

  private var dirs = 0
  /** A fresh directory inside the run's scratch directory. */
  def newDir(name: String): String = {
    dirs += 1
    val d = new File(workDir, s"$name-$dirs")
    d.mkdirs()
    d.getPath
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += msg
  }

  /** Run one operation: count it, time it, record a failure if it throws.
    * Returns the body's value and its wall time in ms.
    */
  def op[A](kind: String)(body: => A): Option[(A, Double)] = {
    attempted += 1
    val traced = tracer.active
    val t0 = System.nanoTime()
    try {
      val a = tracer.span(kind)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      if (recording) samples += Sample(kind, ms, traced)
      Some((a, ms))
    } catch {
      case e: Throwable =>
        fail(s"$kind threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        None
    }
  }

  /** An end-of-run verification: counts as one attempted operation. */
  def verify(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case e: Throwable =>
      fail(s"$what threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"); return
    }
    if (!pass) fail(s"check failed: $what")
  }

  /** Untraced samples of `kind` (all kinds when empty). */
  def untraced(kind: String = ""): Seq[Double] =
    samples.filter(s => !s.traced && (kind.isEmpty || s.kind == kind)).map(_.ms).toSeq

  def traced(kind: String = ""): Seq[Double] =
    samples.filter(s => s.traced && (kind.isEmpty || s.kind == kind)).map(_.ms).toSeq
}

object Disk {
  /** Bytes under `path`, every file counted (data, checksums, markers). */
  def bytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(c => bytes(c.getPath)).sum
  }

  /** Parquet data files under `path`. */
  def dataFiles(path: String): Int = {
    val f = new File(path)
    if (!f.exists) 0
    else if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
    else Option(f.listFiles).toSeq.flatten.map(c => dataFiles(c.getPath)).sum
  }

  def delete(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(c => delete(c.getPath))
    f.delete()
  }
}
