package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call from the benchmark into one layer of the engine.
  * Times are epoch microseconds; `parent` is -1 for a root span.
  */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      start: Long, end: Long)

/** Work Spark did for one job, summed over its tasks. */
final class JobRec(val jobId: Int, val span: Option[Int], val start: Long) {
  var end: Long = -1L
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var taskWaitMs = 0L
  var recordsRead = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
}

/** Plan-phase times and shape of one executed query. */
final case class PlanRec(start: Long, analysisMs: Long, optimizationMs: Long,
                         planningMs: Long, exchanges: Int)

/** Span recorder plus a listener that attributes Spark jobs to spans.
  *
  * Each span stores its id in the Spark local property [[SpanProp]] of the
  * calling thread, so every job that thread starts carries the label of
  * the innermost open span. Jobs started from other threads (pooled
  * futures) carry no label and are counted as unattributed. When disabled,
  * `span` only runs its body: timed runs record nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000L
  def nowUs: Long = t0Us + (System.nanoTime() - t0Ns) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[Int]

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val stageSubmit = mutable.Map.empty[Int, Long]

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      val start = nowUs
      try body
      finally {
        val end = nowUs
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, layer, parent, start, end)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.GraftCoreBridge.drainListenerBus(sc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val label = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      val rec = new JobRec(e.jobId, label.map(_.toInt), e.time * 1000L)
      rec.stages = e.stageIds.size
      jobs(e.jobId) = rec
      e.stageIds.foreach(s => stageJob(s) = rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time * 1000L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (rec <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        rec.tasks += 1
        rec.taskMs += m.executorRunTime
        stageSubmit.get(e.stageId).foreach(s => rec.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
        rec.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        rec.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      val rec = PlanRec(start * 1000L, ms("analysis"), ms("optimization"), ms("planning"),
        exchanges(qe))
      Tracer.this.synchronized { plans += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(qeListener)
  }

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] = Set(id) ++ kids.getOrElse(id, Nil).flatMap(c => go(c.id))
    go(root)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  private object Plans extends AdaptiveSparkPlanHelper

  /** Shuffle exchanges in the executed plan, adaptive stages included. */
  def exchanges(qe: QueryExecution): Int =
    Plans.collectWithSubqueries(qe.executedPlan) { case e: ShuffleExchangeLike => e }.size
}
