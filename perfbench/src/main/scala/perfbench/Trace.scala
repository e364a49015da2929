package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * span bounds compare directly with the epoch-ms stamps Spark puts on its
  * listener events.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double) {
  def ms: Double = end - start
  def covers(t: Double): Boolean = t >= start && t <= end
}

/** Records a span around each layer call the benchmark makes. With tracing
  * off `span` only runs its body, so traced and untraced passes execute
  * the same calls. Spans stay in memory until the run writes them out.
  */
final class Tracer {
  var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, parent, Clock.ms, Double.NaN)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = Clock.ms)
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def children(p: Span): Seq[Span] = spans.filter(_.parent == p.id).toSeq
}

final case class StageRec(submitted: Double, tasks: Int, runMs: Double, gcMs: Double,
    shuffleWrite: Double, shuffleRead: Double, spill: Double)
final case class PlanRec(analysisStart: Double, analysisMs: Double, optimizeMs: Double,
    planningMs: Double, nodes: Int)

/** Spark's own listener APIs, attached for the whole of a traced run: jobs,
  * stages and SQL executions from the listener bus, Catalyst phase times and
  * plan sizes from the query-execution listener. Events arrive
  * asynchronously; read them only after `SparkSession.stop()` has drained
  * the bus.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobs = new ConcurrentLinkedQueue[(Double, Double)]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val sqlStarts = new ConcurrentLinkedQueue[Double]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add((s.toDouble, e.time.toDouble)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.add(StageRec(i.submissionTime.getOrElse(0L).toDouble, i.numTasks,
      m.executorRunTime.toDouble, m.jvmGCTime.toDouble,
      m.shuffleWriteMetrics.bytesWritten.toDouble,
      (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble,
      m.diskBytesSpilled.toDouble))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlStarts.add(s.time.toDouble)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def dur(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = ph.get("analysis").map(_.startTimeMs.toDouble)
      .orElse(ph.values.headOption.map(_.startTimeMs.toDouble)).getOrElse(0.0)
    val nodes = qe.optimizedPlan.collectWithSubqueries { case p => p }.size
    plans.add(PlanRec(start, dur("analysis"), dur("optimization"), dur("planning"), nodes))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  private def jobsIn(s: Span) = jobs.asScala.filter { case (a, _) => s.covers(a) }.toSeq

  /** Wall time inside `s` during which at least one Spark job ran. */
  def jobMs(s: Span): Double = Recorder.union(jobsIn(s), s.start, s.end)

  /** From the first job started inside `s` to the last one's end: the
    * execution of the plan, with the driver's work between jobs (adaptive
    * re-planning of the next query stage, job submission) but not the
    * driver's work before the first job or after the last.
    */
  def jobWindowMs(s: Span): Double = {
    val js = jobsIn(s)
    if (js.isEmpty) 0.0 else (js.map(_._2).max min s.end) - js.map(_._1).min
  }

  /** Execution figures for the work Spark started inside `s`. */
  def exec(s: Span): Map[String, Double] = {
    val st = stages.asScala.filter(r => s.covers(r.submitted)).toSeq
    val js = jobsIn(s)
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> st.size.toDouble,
      "tasks" -> st.map(_.tasks).sum.toDouble,
      "task_ms" -> st.map(_.runMs).sum,
      "gc_ms" -> st.map(_.gcMs).sum,
      "shuffle_write_mb" -> st.map(_.shuffleWrite).sum / 1e6,
      "shuffle_read_mb" -> st.map(_.shuffleRead).sum / 1e6,
      "spill_mb" -> st.map(_.spill).sum / 1e6,
      "driver_gap_ms" -> (s.ms - jobMs(s)))
  }

  def sqlExecs(s: Span): Int = sqlStarts.asScala.count(s.covers)
  def plansIn(s: Span): Seq[PlanRec] = plans.asScala.filter(p => s.covers(p.analysisStart)).toSeq
}

object Recorder {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var reach = lo
    iv.map { case (a, b) => (a max lo, b min hi) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - (a max reach); reach = b }
      }
    covered
  }
}
