package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: `<layer>.<op>`, its interval and the span
  * that was open when it started (the day, pass or chain). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. With `on = false` a span only runs its body;
  * `enabled` can be flipped between passes so a traced run interleaves
  * traced and untraced passes and measures its own overhead. */
final class Tracer(val on: Boolean, val runId: String, sc: SparkContext) {
  var enabled: Boolean = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[A](name: String)(body: => A): A = {
    if (!(on && enabled)) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val group = sc.getLocalProperty(Tracer.JobGroupKey)
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (group == null) sc.clearJobGroup()
      else sc.setJobGroup(group, group, interruptOnCancel = false)
      spans += Span(id, parent, name, t0, t1, runId)
    }
  }

  /** Span seconds minus the seconds its direct children cover (calls are
    * sequential on one thread, so children never overlap). */
  def selfSeconds: Map[Int, Double] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }

  /** Median self seconds per call of every span named `name`. */
  def medianSelf(name: String): Double = {
    val self = selfSeconds
    Stats.median(spans.filter(_.name == name).map(s => self(s.id)).toSeq)
  }

  /** Self seconds of every span, summed per span name. */
  def selfByName: Seq[(String, Double, Int)] = {
    val self = selfSeconds
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.map(s => self(s.id)).sum, ss.size) }.sortBy(-_._2)
  }

  def toJsonLines: Seq[String] = spans.toSeq.map { s =>
    s"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""" }
}

object Tracer {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"
  /** Spans that group a unit's blocking calls: a day's commits and its
    * query, a maintenance, a pass. */
  val Blocking = Set("cycle.day", "cycle.query", "cycle.maintenance", "pass.read")
}

/** Per job group (set by [[Tracer.span]]) totals of Spark's own task
  * metrics: jobs, tasks, task CPU, shuffle write, spill and input bytes. */
final class JobCounters extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  private def acc(g: String): Array[Double] = byGroup.computeIfAbsent(g, _ => new Array[Double](6))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.JobGroupKey)))
    g.foreach { name =>
      e.stageIds.foreach(stageGroup.put(_, name))
      acc(name).synchronized { acc(name)(0) += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val a = acc(g)
      a.synchronized {
        a(1) += 1
        a(2) += m.executorCpuTime / 1e9
        a(3) += m.shuffleWriteMetrics.bytesWritten
        a(4) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(5) += m.inputMetrics.bytesRead
      }
    }
  }

  def snapshot(): Map[String, Seq[Double]] = {
    import scala.jdk.CollectionConverters._
    byGroup.asScala.map { case (g, a) => g -> a.synchronized(a.toSeq) }.toMap
  }
}

/** Keeps the last executed query so the scan leaves of a delivered result
  * can be read. */
final class LastQuery extends QueryExecutionListener {
  @volatile var last: Option[QueryExecution] = None
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    last = Some(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Rows read, summed over the scan leaves of the last plan. */
  def rowsRead(): Long = last.map { qe =>
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case _ if p.children.isEmpty => Seq(p)
      case _ => p.children.flatMap(leaves)
    }
    leaves(qe.executedPlan).flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
  }.getOrElse(0L)
}
