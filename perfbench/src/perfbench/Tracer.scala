package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}

/** One timed call into a layer. Times are ms since the run started. */
final case class Span(kind: String, name: String, qid: Long, parent: Long,
    id: Long, start_ms: Double, end_ms: Double)

/** Scheduler counters from Spark's public listener events. Jobs carry the
  * span they were started in as a local property, so eager jobs run while a
  * DataFrame is being built are told apart from the jobs of its action. */
final class Counters extends SparkListener {
  val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private var ccEdgeFrame: Option[String] = None
  private val stageStep = mutable.Map.empty[Int, String]
  private val fenceJobs = mutable.Set.empty[Int]
  private val fenceStages = mutable.Set.empty[Int]
  private var fenced = 0

  def add(k: String, v: Double): Unit = c(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    if (p != null && p.getProperty(Tracer.FenceProp) != null) {
      fenceJobs += e.jobId
      fenceStages ++= e.stageIds
      return
    }
    val span = Option(p).flatMap(q => Option(q.getProperty(Tracer.SpanProp))).getOrElse("")
    Option(p).flatMap(q => Option(q.getProperty(Tracer.StepProp)))
      .foreach(step => stageStep ++= e.stageIds.map(_ -> step))
    val jobs = if (span == "construct") "construct.jobs" else "exec.jobs"
    add(jobs, 1)
    Option(p).flatMap(q => Option(q.getProperty(Tracer.StepProp)))
      .foreach(step => add(s"step.$step.$jobs", 1))
    // Dedup.connectedComponents checkpoints its edge list once per call and
    // its labels once per fixpoint round; the first call site seen is the
    // edge list's.
    for (s <- e.stageInfos.find(_.name.startsWith("localCheckpoint at"));
         frame <- s.details.linesIterator.find(_.contains("Dedup$.connectedComponents("))) {
      if (ccEdgeFrame.isEmpty) ccEdgeFrame = Some(frame)
      if (!ccEdgeFrame.contains(frame)) add("dedup.cc_rounds", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (fenceJobs.remove(e.jobId)) { fenced += 1; notifyAll() }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (!fenceStages.contains(e.stageInfo.stageId)) add("exec.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (fenceStages.contains(e.stageId)) return
    add("exec.tasks", 1)
    if (!e.taskInfo.successful) add("exec.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_run_s", m.executorRunTime / 1e3)
      stageStep.get(e.stageId).foreach(st => add(s"step.$st.task_run_s", m.executorRunTime / 1e3))
      add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
      add("scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("scan.input_records", m.inputMetrics.recordsRead.toDouble)
    }
  }

  /** Waits until every event posted before `fence` was delivered. */
  def awaitFence(n: Int): Unit = synchronized {
    val deadline = System.nanoTime() + 30e9.toLong
    while (fenced < n && System.nanoTime() < deadline) wait(100)
  }

  /** Returns and clears the counters gathered since the last drain. */
  def drain(): Map[String, Double] = synchronized {
    val out = c.toMap
    c.clear(); fenceStages.clear(); stageStep.clear()
    out
  }
}

/** Spans and counters of a traced pass; a disabled tracer only runs the
  * bodies, so untraced passes pay nothing for it. */
final class Tracer(sc: SparkContext, val enabled: Boolean, t0: Long) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var parent = 0L
  private var qid = 0L
  private var step: String = null
  private var fences = 0
  private val counters = new Counters
  /** Sums from the spans of the current pass. */
  val pass = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  /** Listens to the scheduler for one traced pass, until [[endPass]]. */
  def beginPass(): Unit = if (enabled) sc.addSparkListener(counters)

  private def ms(t: Long) = (t - t0) / 1e6

  def query(id: Long): Unit = qid = id

  def span[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val (id, up) = (nextId, parent)
      parent = id
      val layer = kind.takeWhile(_ != '.')
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, layer)
      if (kind == "query") { step = name; sc.setLocalProperty(Tracer.StepProp, name) }
      val s = System.nanoTime()
      try body
      finally {
        val e = System.nanoTime()
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
        if (kind == "query") { step = null; sc.setLocalProperty(Tracer.StepProp, null) }
        parent = up
        spans += Span(kind, name, qid, up, id, ms(s), ms(e))
        val key = if (kind.indexOf('.') >= 0) kind + "_s" else kind + ".s"
        pass(key) += (e - s) / 1e9
        if (step != null) pass(s"step.$step.$key") += (e - s) / 1e9
      }
    }

  /** Plan phases and final-plan shape of an executed DataFrame. */
  def planOf(df: DataFrame): Unit = if (enabled) {
    val qe = df.queryExecution
    for ((phase, key) <- Seq("analysis" -> "plans.analysis_s",
        "optimization" -> "plans.optimization_s", "planning" -> "plans.planning_s"))
      qe.tracker.phases.get(phase).foreach(p => pass(key) += (p.endTimeMs - p.startTimeMs) / 1e3)
    val nodes = Tracer.nodes(qe.executedPlan)
    pass("plans.exchanges") += nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    pass("plans.broadcast_joins") += nodes.count {
      case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true
      case _ => false
    }
  }

  def sinkWritten(bytes: Long): Unit = if (enabled) pass("sink.bytes_written") += bytes

  def sinkCompacted(bytes: Long, files: Int, inputBytes: Long): Unit = if (enabled) {
    pass("sink.bytes_written") += bytes
    pass("sink.files_after") += files
    pass("sink.input_bytes") += inputBytes
  }

  /** Runs one tiny job after the pass and waits until the listener has seen
    * it: the listener bus is ordered, so every earlier event is in. */
  def endPass(): Map[String, Double] = {
    if (!enabled) return Map.empty
    sc.setLocalProperty(Tracer.FenceProp, "1")
    try sc.parallelize(Seq(1), 1).foreach(_ => ())
    finally sc.setLocalProperty(Tracer.FenceProp, null)
    fences += 1
    counters.awaitFence(fences)
    sc.removeSparkListener(counters)
    val out = counters.drain() ++ pass
    pass.clear()
    out
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val FenceProp = "perfbench.fence"
  val StepProp = "perfbench.step"

  /** Every node of an executed plan, looking through AQE stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
