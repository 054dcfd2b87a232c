package perfbench

import scala.collection.mutable
import org.apache.spark.{SparkBridge, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span per public-function boundary the harness calls into.
  * `req` groups the spans of one request (one etl pass, one search
  * request, one board query). */
final case class Span(id: Int, name: String, parent: Int, req: Int,
    startNs: Long, var endNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark-side counters attributed to the span that submitted the work. */
final class Counters {
  var jobs = 0; var stages = 0; var tasks = 0
  var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var spill = 0L
  var planMs = 0.0; var leafRows = 0L
  /** [start, end] wall intervals of this span's jobs, in ms since epoch. */
  val jobWall = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** In-memory tracer. Between [[begin]] and [[end]] it records spans and
  * has a SparkListener + QueryExecutionListener attached, whose events
  * are attributed through a local property the innermost span sets;
  * outside them `span` only runs its body. Spans stay in memory and are
  * read out at the end. */
final class Trace(val enabled: Boolean) {
  private val Prop = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var req = 0
  private var top = -1
  private var sc: SparkContext = _
  private var session: SparkSession = _
  val counters = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, (Int, Long)]
  // query-execution events wait here until the owning request drains
  private val pendingQe = mutable.ArrayBuffer.empty[QueryExecution]

  private def c(id: Int): Counters = counters.getOrElseUpdate(id, new Counters)

  private object listener extends SparkListener {
    private def spanOf(p: java.util.Properties): Int =
      Option(p).flatMap(pp => Option(pp.getProperty(Prop))).map(_.toInt).getOrElse(-1)
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val s = spanOf(e.properties)
      jobSpan(e.jobId) = (s, e.time)
      e.stageIds.foreach(stageSpan(_) = s)
      c(s).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (s, t0) => c(s).jobWall += ((t0, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      c(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val k = c(stageSpan.getOrElse(e.stageId, -1))
        k.tasks += 1
        k.cpuNs += m.executorCpuTime
        k.gcMs += m.jvmGCTime
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
  }

  private object qeListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      pendingQe.synchronized(pendingQe += qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      pendingQe.synchronized(pendingQe += qe)
  }

  def active: Boolean = session != null

  /** Start tracing request `id`, listeners attached. */
  def begin(spark: SparkSession, id: Int): Unit = {
    session = spark
    sc = spark.sparkContext
    req = id
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Deliver the request's listener events, then detach the listeners. */
  def end(): Unit = if (active) {
    drain(top)
    session.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
    session = null
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = Span(spans.size, name, parent, req, System.nanoTime())
      if (parent == -1) top = s.id
      spans += s
      stack.push(s)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait until every listener event posted so far is delivered, then
    * charge the query executions seen since the last drain to `owner`:
    * Catalyst phase time and rows produced by the plan's leaves. */
  def drain(owner: Int = -1): Unit = if (active) {
    SparkBridge.waitForListeners(sc)
    val qes = pendingQe.synchronized { val r = pendingQe.toList; pendingQe.clear(); r }
    qes.foreach { qe =>
      val k = c(owner)
      k.planMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      k.leafRows += leafRows(qe)
    }
  }

  /** Rows produced by the plan's scans (file, in-memory and local
    * relations), descending through adaptive query stages. */
  private def leafRows(qe: QueryExecution): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => 0L
      case _ if p.children.isEmpty => p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case _ => p.children.map(walk).sum
    }
    walk(qe.executedPlan)
  }

  /** Spans with `name`, in order. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Ids of `s` and every span beneath it. */
  def subtree(s: Span): Set[Int] = {
    val ids = mutable.Set(s.id)
    spans.foreach(x => if (ids(x.parent)) ids += x.id)
    ids.toSet
  }

  /** Counters summed over a span's whole subtree. */
  def sum(s: Span): Counters = {
    val out = new Counters
    subtree(s).flatMap(counters.get).foreach { k =>
      out.jobs += k.jobs; out.stages += k.stages; out.tasks += k.tasks
      out.cpuNs += k.cpuNs; out.gcMs += k.gcMs
      out.shuffleWrite += k.shuffleWrite; out.spill += k.spill
      out.planMs += k.planMs; out.leafRows += k.leafRows
      out.jobWall ++= k.jobWall
    }
    out
  }

  /** Wall ms inside `s` covered by its subtree's jobs (overlaps merged). */
  def jobMs(s: Span): Double = {
    val iv = sum(s).jobWall.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      val a1 = math.max(a, end)
      if (b > a1) { covered += b - a1; end = b }
    }
    covered.toDouble
  }
}
