package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation: what it was, how long it took, what it touched. */
final case class Op(kind: String, ms: Double, ok: Boolean, rootSpan: Int = -1)

/** Shared shape of a workload: set up, then run one timed loop, traced or
  * not.
  */
abstract class Workload(val spark: SparkSession, val a: Main.Args) {
  val dataDir = s"${a.scratch}/data"
  val errors = mutable.ArrayBuffer.empty[String]
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  val samples = mutable.LinkedHashMap.empty[String, Int]
  var tracer = new Tracer(spark, enabled = false)

  /** Build indexes and register them. */
  def setup(): Unit

  /** Untimed calls that bring the JVM to its steady state, made after the
    * heap is measured: the full collection that measurement needs slows
    * the calls right after it.
    */
  def warmup(): Unit = ()

  /** One timed loop of at least `seconds`; returns the ops it ran. */
  def loop(seconds: Double): Seq[Op]

  /** The end-to-end metrics of one loop, by the names in BENCHMARK.json. */
  def endToEnd(ops: Seq[Op], wallS: Double): Map[String, Double]

  /** Adds one loop's figures to the report under the workload's own names. */
  def describe(ops: Seq[Op], wallS: Double): Unit

  /** Per-layer metrics of the traced loop. */
  def perLayer(ops: Seq[Op]): mutable.LinkedHashMap[String, Double]

  def fail(msg: String): Unit = {
    if (errors.size < 50) errors += msg
    System.err.println(s"perfbench: FAILED $msg")
  }

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Times one step of set-up, reported as `setup.<name>_s`. */
  def step[T](name: String)(body: => T): T = {
    val (r, ms) = timedMs(body)
    report(s"setup.${name}_s") = (ms / 1000, "s")
    r
  }

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  def run(): Map[String, Any] = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    report("setup.session_s") = ((System.currentTimeMillis() - jvmStartMs) / 1000.0, "s")
    setup()
    System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    warmup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // a traced run records spans from the first timed call on; run.py
    // compares its figures with an untraced run of the same seed
    if (a.trace) tracer = new Tracer(spark, enabled = true)
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val ops = loop(a.seconds)
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcLoop = (gcMs - gc0).toDouble
    describe(ops, wallS)
    val e2e = endToEnd(ops, wallS) + ("setup_s" -> setupS)
    report("setup_s") = (setupS, "s")
    report("error_rate") = (ops.count(!_.ok).toDouble / math.max(1, ops.size), "ratio")

    var layers = Map.empty[String, Double]
    if (a.trace) {
      tracer.drain()
      val pl = perLayer(ops) ++= driverLayer(ops, gcLoop, heapMb)
      layers = pl.toMap
      TraceFile.write(a.traceOut, tracer, pl, e2e)
    }
    Map(
      "workload" -> a.workload,
      "attempted" -> ops.size,
      "failed" -> ops.count(!_.ok),
      "errors" -> errors.toSeq,
      "end_to_end" -> e2e,
      "per_layer" -> layers,
      "report" -> report.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "samples" -> samples.toMap,
      "latencies_ms" -> ops.groupBy(_.kind).map { case (k, os) => k -> os.map(_.ms) },
      "jvm" -> System.getProperty("java.runtime.version"),
      "spark" -> spark.version)
  }

  /** The driver/scheduler layer, from the traced loop's job records. */
  def driverLayer(ops: Seq[Op], gcMsTotal: Double, heapMb: Double): Seq[(String, Double)] = {
    val jobs = tracer.synchronized(tracer.jobs.values.toList)
    val intervals = jobs.filter(_.end >= 0).map(j => (j.start, j.end))
    val roots = tracer.spans.filter(_.parent == -1)
    val noJob = roots.map(s => (s.end - s.start - Stats.covered(intervals, s.start, s.end)) / 1000.0)
    val tasks = jobs.map(_.tasks).sum
    Seq(
      "driver.no_job_ms" -> Stats.mean(noJob.toSeq),
      "spark.task_wait_ms" -> (if (tasks == 0) 0.0 else jobs.map(_.taskWaitMs).sum.toDouble / tasks),
      "driver.gc_ms" -> gcMsTotal / math.max(1, ops.size),
      "driver.heap_mb" -> heapMb,
      "unattributed_jobs" -> jobs.count(_.span.isEmpty).toDouble)
  }

  /** Jobs of the operation under span `root`: those labeled with a span of
    * its subtree, plus unlabeled jobs (started from pooled threads) that
    * began inside it. One client thread runs one operation at a time, so
    * the time window attributes those exactly.
    */
  def jobsUnder(root: Int): Seq[JobRec] = {
    val ids = tracer.subtree(root)
    val s = tracer.spans.find(_.id == root).get
    tracer.synchronized(tracer.jobs.values.filter(j => j.span.exists(ids) ||
      (j.span.isEmpty && j.start >= s.start && j.start < s.end)).toList)
  }

  /** Plan-phase records whose analysis started inside span `root`. */
  def plansUnder(root: Int): Seq[PlanRec] = {
    val s = tracer.spans.find(_.id == root).get
    tracer.synchronized(tracer.plans.filter(p => p.start >= s.start && p.start < s.end).toList)
  }

  def childSpan(root: Int, name: String): Option[Span] =
    tracer.spans.find(s => s.parent == root && s.name == name)

  def planLayer(ops: Seq[Op]): Seq[(String, Double)] = {
    val ps = ops.map(o => plansUnder(o.rootSpan))
    Seq(
      "plans.analysis_ms" -> Stats.mean(ps.map(_.map(_.analysisMs).sum.toDouble)),
      "plans.optimization_ms" -> Stats.mean(ps.map(_.map(_.optimizationMs).sum.toDouble)),
      "plans.planning_ms" -> Stats.mean(ps.map(_.map(_.planningMs).sum.toDouble)))
  }

  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Records a latency series in the human report: p50 always, p90 only
    * when the sample supports it.
    */
  def reportLatency(name: String, xs: Seq[Double]): Unit = {
    samples(name) = xs.size
    if (xs.nonEmpty) report(s"${name}_p50_ms") = (Stats.median(xs), "ms")
    if (Stats.supports(xs.size, 90)) report(s"${name}_p90_ms") = (Stats.percentile(xs, 90), "ms")
  }
}
