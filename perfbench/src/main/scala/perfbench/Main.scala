package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A benchmark workload. `prepare` builds the benchmark's own inputs and
  * models (untimed); `setup` builds the engine-side state the loop uses and
  * is timed and repeated; `step` is one measured unit of work.
  */
trait Workload {
  def prepare(): Unit
  def setup(): Unit
  def warm(): Unit
  /** Untimed work on a set-up that the next one replaces, so the JIT
    * compiles the loop's code paths early without changing the state the
    * loop starts from.
    */
  def warmReplacedSetup(): Unit = ()
  def step(i: Int): Unit
  def finish(): Unit
  /** Whether the time-limited loop may stop after the current step. */
  def atBoundary: Boolean = true
  /** Steps per traced or untraced stretch of a traced run. */
  def traceUnit: Int = 1
  /** The bounded end-to-end metrics, shared by every workload. */
  def endToEnd(): Map[String, Double]
  /** This workload's own end-to-end figures, by name, with units. */
  def named(): Seq[(String, Double, String)]
  /** This workload's per-layer metrics (the traced half of the run). */
  def perLayer(): Map[String, Double]
  def details(): Map[String, Any]
}

/** Runs one workload for a fixed time and prints one JSON report line.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --workdir DIR`. The run is a closed loop with one client: the next
  * operation starts when the previous one returns. With `--trace 1` the
  * loop alternates untraced and traced operations; end-to-end figures come
  * from the untraced ones, per-layer counters from the traced ones, and the
  * two halves give the tracing overhead.
  */
object Main {
  val SetupReps = 3
  val Workloads = Seq("serve_mix", "pipeline_batch", "stream_drip")
  val LayerNames: Seq[String] = ServeMix.LayerNames ++ PipelineBatch.LayerNames ++ StreamDrip.LayerNames

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"unknown workload '$workload'; expected one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val workDir = opts("workdir")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    try run(spark, workload, seed, seconds, trace, workDir, cores)
    finally spark.stop()
  }

  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
                  trace: Boolean, workDir: String, cores: Int): Unit = {
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, seed, s"$workDir/data", tracer, trace)
    val w: Workload = workload match {
      case "serve_mix" => new ServeMix(ctx)
      case "pipeline_batch" => new PipelineBatch(ctx)
      case "stream_drip" => new StreamDrip(ctx)
    }
    // wall time of each phase, for sizing runs; no metric is taken from it
    val phases = scala.collection.mutable.LinkedHashMap(
      "startup" -> ManagementFactory.getRuntimeMXBean.getUptime / 1000.0)
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    val canaryBefore = Canary.measure(cores)
    phase("canary")
    w.prepare()
    phase("prepare")
    if (trace) tracer.install()
    ctx.recording = false
    // a traced run adds one traced set-up, which setup_s leaves out
    val reps = if (trace) SetupReps + 1 else SetupReps
    val setupS = (0 until reps).map { r =>
      tracer.active = r == SetupReps
      val t0 = System.nanoTime()
      w.setup()
      val s = (System.nanoTime() - t0) / 1e9
      tracer.active = false
      if (r < reps - 1) w.warmReplacedSetup()
      s
    }.take(SetupReps)
    phase("setup")
    w.warm()
    phase("warm")
    ctx.recording = true

    val gcBefore = gcMs()
    heapPools.foreach(_.resetPeakUsage())
    val t0 = System.nanoTime()
    var i = 0
    // a traced run needs one untraced and one traced stretch
    val minSteps = if (trace) 2 * w.traceUnit else 1
    while (i < minSteps || (System.nanoTime() - t0) / 1e9 < seconds || !w.atBoundary) {
      tracer.active = trace && (i / w.traceUnit) % 2 == 1
      w.step(i)
      i += 1
    }
    tracer.active = false
    val loopS = (System.nanoTime() - t0) / 1e9
    val gc = gcMs() - gcBefore
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    phase("loop")
    w.finish()
    phase("finish")
    if (trace) tracer.uninstall()
    val canaryAfter = Canary.measure(cores)

    val e2e = w.endToEnd() + ("setup_s" -> Stats.median(setupS))
    // a layer this workload does not exercise did no work: its counters are 0
    val layers =
      if (!trace) Map.empty[String, Double]
      else LayerNames.map(_ -> 0.0).toMap ++ w.perLayer() ++
        Map("jvm.gc_ms" -> gc, "jvm.peak_heap_mb" -> peakHeapMb) ++ overhead(ctx)
    val failedFrac = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    val named = (w.named() ++ Seq(("setup_s", e2e("setup_s"), "s"), ("failed_frac", failedFrac, "frac"),
      ("bytes_per_user_byte", e2e("bytes_per_user_byte"), "ratio")))
      .map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    val kinds = ctx.samples.map(_.kind).distinct.toSeq
    val tails = kinds.flatMap { k =>
      val xs = ctx.untraced(k)
      Stats.tail(xs).map { case (p, v) => k -> Map("percentile" -> p, "value_ms" -> v, "samples" -> xs.length) }
    }.toMap
    val report = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures.toSeq,
      "end_to_end" -> e2e, "named" -> named, "per_layer" -> layers,
      "setup_runs_s" -> setupS, "loop_s" -> loopS, "steps" -> i, "phases_s" -> phases,
      "tails" -> tails,
      "samples" -> ctx.samples.map(x => Seq(x.kind, x.ms, x.traced)).toSeq,
      "details" -> w.details(),
      "env" -> Map("nproc" -> cores, "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "master" -> spark.sparkContext.master, "loop" -> "closed", "clients" -> 1,
        "canary_before" -> canaryBefore, "canary_after" -> canaryAfter),
      "spans" -> (if (trace) tracer.spansJson(5000) else Seq.empty))
    println(Json.render(report))
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  /** Tracing overhead: per operation kind, the traced median over the
    * untraced median, weighted by how often each kind ran traced.
    */
  private def overhead(ctx: Ctx): Map[String, Double] = {
    val kinds = ctx.samples.map(_.kind).distinct.toSeq
      .filter(k => ctx.traced(k).nonEmpty && ctx.untraced(k).nonEmpty)
    val n = kinds.map(k => ctx.traced(k).length.toDouble)
    val tr = kinds.map(k => Stats.median(ctx.traced(k)))
    val un = kinds.map(k => Stats.median(ctx.untraced(k)))
    val total = n.sum
    if (total == 0) Map("trace.overhead_ratio" -> 0.0, "trace.traced_ms" -> 0.0, "trace.untraced_ms" -> 0.0)
    else {
      val t = n.zip(tr).map { case (a, b) => a * b }.sum / total
      val u = n.zip(un).map { case (a, b) => a * b }.sum / total
      Map("trace.overhead_ratio" -> t / u, "trace.traced_ms" -> t, "trace.untraced_ms" -> u)
    }
  }
}

/** CPU canaries: a fixed integer loop on one thread, then on every core at
  * once. Recorded beside each result so a run on a loaded machine can be
  * recognised; never used to adjust a metric.
  */
object Canary {
  private val Iters = 50000000L
  // keeps the loops' results live, so the JIT cannot drop them
  @volatile private var sink = 0L

  private def spin(): Unit = {
    var x = 88172645463325252L
    var i = 0L
    while (i < Iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink ^= x
  }

  def measure(cores: Int): Map[String, Double] = {
    val t0 = System.nanoTime()
    spin()
    val single = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val threads = (0 until cores).map { _ => val t = new Thread(() => spin()); t.start(); t }
    threads.foreach(_.join())
    val all = (System.nanoTime() - t1) / 1e9
    Map("single_thread_s" -> single, "all_core_s" -> all)
  }
}

/** Minimal JSON rendering for the report line. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}:${render(x)}" }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
