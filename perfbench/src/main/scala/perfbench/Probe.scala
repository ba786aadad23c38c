package perfbench

import java.util.concurrent.CopyOnWriteArrayList
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters, recorded as raw events (epoch-ms stamps, the
  * clock Spark uses) and folded into aggregates afterwards. The listener
  * bus is asynchronous: callers [[drain]] before reading, and slice the
  * event log with [[mark]] / [[since]] around the operation they time. */
final class Probe(spark: SparkSession) {
  import Probe._

  private val jobs = new CopyOnWriteArrayList[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val tasks = new CopyOnWriteArrayList[Task]()
  private val execStarts = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String, Boolean)]()
  private val actions = new CopyOnWriteArrayList[Action]()
  private val plans = new CopyOnWriteArrayList[java.lang.Double]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Job(e.jobId, e.time, e.stageIds.size))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
        execStarts.put(s.executionId, (s.time, s.description,
          s.physicalPlanDescription.contains("sri(http")))
      case x: SparkListenerSQLExecutionEnd =>
        Option(execStarts.remove(x.executionId)).foreach { case (t0, d, sri) =>
          actions.add(Action(x.executionId, t0, x.time, d, sri))
        }
      case _ => ()
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plan(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
  }
  private def plan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    plans.add(Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Wait until every started job has ended and no event arrived for
    * `quietMs` (bounded by `maxMs`). */
  def drain(quietMs: Long = 150, maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val n = jobs.size + jobEnds.size + tasks.size + actions.size + plans.size
      val now = System.currentTimeMillis()
      if (n != last) { last = n; stableSince = now }
      else if (jobs.size == jobEnds.size && now - stableSince >= quietMs) return
      Thread.sleep(10)
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** A position in the event log; pair with [[since]]. */
  def mark(): Mark = Mark(jobs.size, tasks.size, actions.size, plans.size)

  /** Aggregates of every event after `m`, over the wall window
    * [fromMs, toMs] (for the driver-gap metric). Drain first. */
  def since(m: Mark, fromMs: Long, toMs: Long): SparkWindow = {
    def from[A](l: CopyOnWriteArrayList[A], i: Int): Vector[A] =
      l.asScala.drop(i).toVector
    val js = from(jobs, m.jobs)
    val ts = from(tasks, m.tasks)
    val ends = js.map(j => Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(toMs))
    val intervals = js.zip(ends).map { case (j, e) =>
      (math.max(j.startMs, fromMs), math.min(e, toMs)) }
    SparkWindow(
      jobs = js.size, stages = js.map(_.stages).sum, tasks = ts.size,
      taskS = ts.map(_.runMs).sum / 1e3, gcS = ts.map(_.gcMs).sum / 1e3,
      shuffleWriteMb = ts.map(_.shuffleWrite).sum / 1e6,
      spillMb = ts.map(_.spill).sum / 1e6,
      planS = from(plans, m.plans).map(_.doubleValue).sum / 1e3,
      driverGapS = math.max(0L, (toMs - fromMs) - Stats.unionLength(intervals)) / 1e3,
      actions = from(actions, m.actions),
      jobSpans = js.zip(ends).map { case (j, e) => (j.id, j.startMs, e) })
  }
}

object Probe {
  final case class Mark(jobs: Int, tasks: Int, actions: Int, plans: Int)
  final case class Job(id: Int, startMs: Long, stages: Int)
  final case class Task(endMs: Long, runMs: Long, gcMs: Long,
                        shuffleWrite: Long, spill: Long)
  /** One root SQL execution (a DataFrame action): its call site
    * (`description`, e.g. "collect at SyncRunner.scala:73"), whether its
    * plan reads the SRI source, and its wall window. */
  final case class Action(id: Long, startMs: Long, endMs: Long,
                          description: String, readsSri: Boolean) {
    def durS: Double = (endMs - startMs) / 1e3
    def call: String = description.takeWhile(_ != ' ')
  }
}

final case class SparkWindow(jobs: Int, stages: Int, tasks: Int, taskS: Double,
                             gcS: Double, shuffleWriteMb: Double,
                             spillMb: Double, planS: Double, driverGapS: Double,
                             actions: Vector[Probe.Action],
                             jobSpans: Vector[(Int, Long, Long)]) {
  def +(o: SparkWindow): SparkWindow = SparkWindow(jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, taskS + o.taskS, gcS + o.gcS,
    shuffleWriteMb + o.shuffleWriteMb, spillMb + o.spillMb, planS + o.planS,
    driverGapS + o.driverGapS, actions ++ o.actions, jobSpans ++ o.jobSpans)
}
