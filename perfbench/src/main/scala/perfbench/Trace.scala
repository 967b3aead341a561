package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call the benchmark made into a layer, or a
  * Spark job attributed to the span that was open when it started.
  * Times are monotonic nanoseconds on the tracer's clock. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startNs: Long, var endNs: Long = -1L)

/** In-memory span recorder. Disabled, `span` is a plain call: the
  * untraced run pays nothing. Enabled, every span also becomes the
  * Spark job group, so the listener can attribute each job to the
  * innermost open span. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  var enabled = false
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private val wall0Ms = System.currentTimeMillis()
  private val mono0Ns = System.nanoTime()

  /** Epoch milliseconds (listener event times) on the span clock. */
  def toNs(epochMs: Long): Long = mono0Ns + (epochMs - wall0Ms) * 1000000L

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0L), name,
        layer, System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.GroupPrefix + s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name,
            interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
}

/** Aggregated task metrics of one Spark job. */
final class JobRec(val id: Int, val span: Long, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
}

/** Spark-side counters for the traced run: every job with its task
  * metrics, and the planning phases of every SQL execution. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  var sqlExecutions = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix).toLong).getOrElse(0L)
    val j = new JobRec(e.jobId, span, e.time)
    j.stages = e.stageIds.length
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => synchronized { sqlExecutions += 1 }
    case _ => ()
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
    planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = phases(qe)
}

object LayerListener {
  def attach(spark: SparkSession): LayerListener = {
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  def drain(spark: SparkSession): Unit =
    PerfbenchBridge.drainListeners(spark.sparkContext)
}

/** Shape census of an executed physical plan (the final adaptive plan,
  * query stages and subqueries included). */
final case class Census(exchanges: Long = 0, broadcastExchanges: Long = 0,
    sortMergeJoins: Long = 0, wscgStages: Long = 0,
    codegenFallbackExprs: Long = 0, hofLambdas: Long = 0) {
  def +(o: Census): Census = Census(exchanges + o.exchanges,
    broadcastExchanges + o.broadcastExchanges,
    sortMergeJoins + o.sortMergeJoins, wscgStages + o.wscgStages,
    codegenFallbackExprs + o.codegenFallbackExprs, hofLambdas + o.hofLambdas)
}

object Census {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Seq(p)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def of(plan: SparkPlan): Census = {
    val ns = nodes(plan)
    val exprs = ns.flatMap(_.expressions)
    Census(
      exchanges = ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      broadcastExchanges = ns.count(_.isInstanceOf[BroadcastExchangeLike]),
      sortMergeJoins = ns.count(_.isInstanceOf[SortMergeJoinExec]),
      wscgStages = ns.count(_.isInstanceOf[WholeStageCodegenExec]),
      codegenFallbackExprs =
        exprs.map(_.collect { case f: CodegenFallback => f }.size).sum,
      hofLambdas = exprs.map(_.collect { case l: LambdaFunction => l }.size).sum)
  }
}

/** Reduces the spans and jobs of a traced run to per-layer numbers. */
object TraceReport {

  /** Length of the union of intervals, clipped to [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val cl = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    cl.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** The benchmark spans plus one `spark.job` span per finished job. */
  def allSpans(t: Tracer, l: LayerListener): Seq[Span] = {
    val jobSpans = l.jobs.values.filter(_.endMs >= 0).map(j =>
      Span(-j.id.toLong - 1, j.span, s"job ${j.id}", "spark.job",
        t.toNs(j.startMs), t.toNs(j.endMs))).toSeq
    t.spans.toSeq.filter(_.endNs >= 0) ++ jobSpans
  }

  /** Self time per layer in ms: each span's duration minus the part of
    * it its child spans cover. */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val c = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
        (s.endNs - s.startNs - covered(c, s.startNs, s.endNs)) / 1e6
      }.sum
    }
  }

  /** Span ids under (and including) each root id. */
  def descendants(spans: Seq[Span], roots: Set[Long]): Set[Long] = {
    val kids = spans.groupBy(_.parent)
    val seen = mutable.Set[Long]()
    var frontier = roots.toSeq
    while (frontier.nonEmpty) {
      seen ++= frontier
      frontier = frontier.flatMap(id => kids.getOrElse(id, Nil).map(_.id))
        .filterNot(seen.contains)
    }
    seen.toSet
  }

  def spansJson(spans: Seq[Span], runId: String): Seq[String] = spans.map(s =>
    Stats.obj(Seq("run" -> Stats.str(runId), "id" -> s.id.toString,
      "parent" -> s.parent.toString, "name" -> Stats.str(s.name),
      "layer" -> Stats.str(s.layer), "start_ns" -> s.startNs.toString,
      "end_ns" -> s.endNs.toString)))
}
