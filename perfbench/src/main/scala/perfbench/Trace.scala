package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` 0 is the root. Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double])

/** Per-action planning record, from the `QueryExecutionListener`. */
final case class ActionRec(span: Long, func: String, durationMs: Double, analysisMs: Double,
    optimizationMs: Double, planningMs: Double, exchanges: Int, nestedLoopJoins: Int, scanBytes: Double)

/** Per-stage task statistics, from the `SparkListener`. */
final case class StageRec(stageId: Int, readsShuffle: Boolean, tasks: Int,
    taskSumMs: Double, taskMaxMs: Double, taskMedianMs: Double)

/** In-memory tracer for the traced run. Spans nest workload -> pass or query
  * -> job -> stage; planning phases are children of their query. Counters
  * sum task metrics over the whole run and are read as deltas around each
  * measured window. Nothing is written until [[json]] is called at the end.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = List(0L)
  @volatile private var currentId = 0L
  private val counters = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  val actions: mutable.ArrayBuffer[ActionRec] = mutable.ArrayBuffer.empty
  val stages: mutable.ArrayBuffer[StageRec] = mutable.ArrayBuffer.empty

  // listener times are epoch millis; map them onto the nanoTime axis
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  private def nanoOf(ms: Long): Long = nano0 + (ms - wall0) * 1000000L

  val SpanProp = "perfbench.span"

  def add(s: Span): Unit = spans.synchronized { spans += s }
  def newId(): Long = ids.incrementAndGet()

  /** The span most recently closed by [[span]] (read on the thread that runs the workload). */
  var lastClosed: Option[Span] = None

  /** Run `body` as a child span of the current one. The listener bus is
    * drained before the span closes, so every job and action of `body` is
    * attributed to it.
    */
  def span[T](name: String, kind: String)(body: => T): T = {
    val id = newId()
    val parent = stack.head
    stack = id :: stack
    currentId = id
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      drain()
      val t1 = System.nanoTime()
      stack = stack.tail
      currentId = stack.head
      sc.setLocalProperty(SpanProp, stack.head.toString)
      val s = Span(id, parent, name, kind, t0, t1, Map.empty)
      add(s)
      lastClosed = Some(s)
    }
  }

  def bump(key: String, v: Double): Unit = counters.synchronized { counters(key) += v }
  def snapshot(): Map[String, Double] = { drain(); counters.synchronized(counters.toMap) }
  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    (before.keySet ++ after.keySet).map(k => k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap
  def drain(): Unit = PerfbenchBus.drain(sc)

  // ------------------------------------------------------------ listeners

  private val jobSpan = mutable.HashMap.empty[Int, (Long, Long, Long)] // job -> (span, parent, startNs)
  private val stageJob = mutable.HashMap.empty[Int, Long] // stage -> job span
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Double]]
  private val stageReads = mutable.HashSet.empty[Int]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      val id = newId()
      jobSpan(e.jobId) = (id, parent, nanoOf(e.time))
      e.stageIds.foreach(s => stageJob(s) = id)
      bump("jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
        add(Span(id, parent, s"job ${e.jobId}", "job", start, nanoOf(e.time), Map.empty))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      bump("tasks", 1)
      bump("gc_ms", m.jvmGCTime.toDouble)
      bump("spill_disk_bytes", m.diskBytesSpilled.toDouble)
      bump("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      bump("shuffle_write_ns", m.shuffleWriteMetrics.writeTime.toDouble)
      bump("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      bump("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      bump("output_records", m.outputMetrics.recordsWritten.toDouble)
      taskMs.synchronized {
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration.toDouble
        if (m.shuffleReadMetrics.recordsRead > 0) stageReads += e.stageId
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      bump("stages", 1)
      val durs = taskMs.synchronized(taskMs.remove(info.stageId)).getOrElse(mutable.ArrayBuffer.empty).sorted
      val reads = taskMs.synchronized(stageReads.remove(info.stageId))
      if (durs.nonEmpty)
        stages.synchronized {
          stages += StageRec(info.stageId, reads, durs.size, durs.sum, durs.last, durs(durs.size / 2))
        }
      for (sub <- info.submissionTime; done <- info.completionTime)
        add(Span(newId(), stageJob.getOrElse(info.stageId, 0L), s"stage ${info.stageId}", "stage",
          nanoOf(sub), nanoOf(done), Map("tasks" -> durs.size.toDouble)))
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val nodes = Tracer.planNodes(qe.executedPlan)
      actions.synchronized {
        actions += ActionRec(currentId, func, durationNs / 1e6, ms("analysis"), ms("optimization"), ms("planning"),
          nodes.count(n => n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[BroadcastExchangeLike]),
          nodes.count(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] || n.isInstanceOf[CartesianProductExec]),
          nodes.collect { case f: FileSourceScanExec => f.metrics.get("filesSize").map(_.value).getOrElse(0L) }
            .sum.toDouble)
      }
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def uninstall(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Planning phases of the actions recorded under each span, as its child
    * spans placed back to back from the span's start (the tracker keeps
    * durations, not start times).
    */
  private def planningSpans(recorded: Seq[Span]): Seq[Span] = {
    val bySpan = actions.synchronized(actions.toList).groupBy(_.span)
    recorded.flatMap { s =>
      var t = s.startNs
      for (r <- bySpan.getOrElse(s.id, Nil); (p, ms) <- Seq("analysis" -> r.analysisMs,
          "optimization" -> r.optimizationMs, "planning" -> r.planningMs) if ms > 0) yield {
        val end = t + (ms * 1e6).toLong
        val child = Span(newId(), s.id, s"${r.func} $p", "plan", t, end, Map.empty)
        t = end
        child
      }
    }
  }

  def allSpans: Seq[Span] = {
    val recorded = spans.synchronized(spans.toList)
    recorded ++ planningSpans(recorded)
  }

  /** Self time: a span's duration minus the union of its children's
    * intervals (clipped to the span).
    */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      for ((a, b) <- ivs) {
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }

  def json(): String = {
    val all = allSpans
    val self = selfTimes(all)
    all.sortBy(_.startNs).map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"kind":${Json.str(s.kind)},""" +
        s""""start_ms":${Json.num((s.startNs - nano0) / 1e6)},"dur_ms":${Json.num((s.endNs - s.startNs) / 1e6)},""" +
        s""""self_ms":${Json.num(self.getOrElse(s.id, 0L) / 1e6)},"attrs":{$attrs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  /** Every node of a physical plan, looking through AQE wrappers and query
    * stages to the plan that actually ran, subqueries included.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
