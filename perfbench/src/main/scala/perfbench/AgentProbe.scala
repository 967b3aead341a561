package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.api.{DedupIndex, MnemoStore}
import graft.api.Mnemo.{RecallRequest, RememberRequest}

/** The `graft.api` probe of a traced run: one agent writing to and
  * recalling from a `MnemoStore`, closed loop, for a few steps.
  *
  * Each step is an `ingestPipeline` batch probed against a `DedupIndex`
  * (memories of several agents, with planted re-posts of earlier
  * contents and injection-like contents), a few `recallVisible` calls
  * alternating lexical and hybrid, and one `forget` of two memories the
  * step wrote. The first step warms the JIT and is not counted. */
final class AgentProbe {
  import AgentProbe._

  private var steps: IndexedSeq[Step] = IndexedSeq.empty
  private var store: MnemoStore = _
  private var index: DedupIndex = _
  private val measured = mutable.ArrayBuffer[Op]()
  private val acked = mutable.Set[String]()
  private val forgotten = mutable.Set[String]()
  private var planted = 0L
  private var flagged = 0L
  private var contentBytes = 0L
  private var lastSegments = 0
  private var compactions = 0L

  private def storePath(ctx: Ctx) = s"${ctx.out}/agent/store"
  private def indexPath(ctx: Ctx) = s"${ctx.out}/agent/index"

  private def load(ctx: Ctx): Unit = {
    // the generated timestamps carry no zone (NTZ); the session is UTC
    val reqs = ctx.spark.read.parquet(s"${ctx.data}/agent_requests.parquet")
      .withColumn("created_at", col("created_at").cast("timestamp"))
      .collect().map { r =>
        val req = RememberRequest(
          id = r.getAs[String]("id"), agentId = r.getAs[String]("agent_id"),
          threadId = r.getAs[String]("thread_id"),
          content = r.getAs[String]("content"),
          importance = r.getAs[Float]("importance"),
          tags = r.getAs[scala.collection.Seq[String]]("tags").toSeq,
          createdAt = r.getAs[Timestamp]("created_at"))
        (r.getAs[Int]("step"), Req(req, r.getAs[Boolean]("repost"),
          r.getAs[Int]("forget_step")))
      }
    val recalls = ctx.spark.read.parquet(s"${ctx.data}/agent_recalls.parquet")
      .collect().map(r => r.getAs[Int]("step") -> Recall(
        r.getAs[String]("agent_id"), r.getAs[String]("query"),
        r.getAs[String]("strategy")))
    val byStep = reqs.groupBy(_._1)
    val forgets = reqs.map(_._2).filter(_.forgetStep >= 0).groupBy(_.forgetStep)
    val recallsBy = recalls.groupBy(_._1)
    steps = (0 until byStep.keys.max + 1).map { s =>
      Step(byStep.getOrElse(s, Array.empty).map(_._2).toSeq,
        recallsBy.getOrElse(s, Array.empty).map(_._2).toSeq,
        forgets.getOrElse(s, Array.empty).map(_.req).toSeq)
    }
  }

  /** Runs one step on `st`/`ix`; returns its timed operations. */
  private def runStep(ctx: Ctx, st: MnemoStore, ix: DedupIndex, s: Step): Seq[Op] = {
    val ops = mutable.ArrayBuffer[Op]()
    val now = new Timestamp(s.reqs.map(_.req.createdAt.getTime).max + 3600 * 1000L)
    def timed[T](kind: String)(body: => T): Option[T] = {
      val t0 = System.nanoTime()
      val r = ctx.attempt(kind)(ctx.span(kind, kind)(body))
      ops += Op(kind, kind, (System.nanoTime() - t0) / 1e6)
      r
    }
    timed("ingest") {
      val rep = st.ingestPipeline(s.reqs.map(_.req), Some(ix))
      rep.verdicts.select("id", "maybe_dup").collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
    }.foreach { verdict =>
      acked ++= s.reqs.map(_.req.id)
      contentBytes += s.reqs.map(_.req.content.getBytes("UTF-8").length.toLong).sum
      s.reqs.filter(_.repost).foreach { r =>
        planted += 1
        if (ctx.check(verdict.get(r.req.id).contains(1),
          s"planted re-post ${r.req.id} not flagged maybe_dup")) flagged += 1
      }
    }
    s.recalls.foreach { r =>
      timed("recall") {
        st.recallVisible(r.agent, RecallRequest(query = r.query,
          strategy = r.strategy, limit = 10), now)
          .select("id").collect().map(_.getString(0))
      }.foreach { ids =>
        val leaked = ids.filter(forgotten.contains)
        ctx.check(leaked.isEmpty, s"recall returned forgotten ids ${leaked.mkString(",")}")
      }
    }
    if (s.forgets.nonEmpty) {
      val agent = s.forgets.head.agentId
      timed("forget")(st.forget(agent, s.forgets.map(_.id), now))
        .foreach(_ => forgotten ++= s.forgets.map(_.id))
    }
    ops.toSeq
  }

  /** Runs the probe; returns its per-layer metrics. `traced` hands back
    * the run's spans and Spark jobs once the listener has drained. */
  def run(ctx: Ctx, traced: () => (Seq[Span], Seq[JobRec])): Map[String, Double] = {
    load(ctx)
    store = new MnemoStore(ctx.spark, storePath(ctx))
    index = new DedupIndex(ctx.spark, indexPath(ctx), capacity = IndexCapacity)
    runStep(ctx, store, index, steps(0))
    lastSegments = store.describe().segments
    (1 to ProbeSteps).foreach { i =>
      measured ++= ctx.span("step", "step")(runStep(ctx, store, index, steps(i)))
      val segs = store.describe().segments
      if (segs < lastSegments) compactions += 1
      lastSegments = segs
    }
    verify(ctx)
    val (spans, jobs) = traced()
    metrics(ctx, spans, jobs)
  }

  private def verify(ctx: Ctx): Unit = {
    ctx.attempt("verifyChains") {
      val broken = store.verifyChains().filter(!col("chain_valid")).count()
      ctx.check(broken == 0, s"verifyChains: $broken invalid links")
    }
    ctx.attempt("reopen") {
      val reopened = new MnemoStore(ctx.spark, storePath(ctx)).table()
        .select(col("id"), col("deleted_at").isNull.as("live"))
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      val lost = (acked -- forgotten).filterNot(id => reopened.getOrElse(id, false))
      ctx.check(lost.isEmpty,
        s"after reopen ${lost.size} acknowledged ids unreadable, e.g. ${lost.take(3).mkString(",")}")
      val alive = forgotten.filter(id => reopened.getOrElse(id, false))
      ctx.check(alive.isEmpty, s"after reopen ${alive.size} forgotten ids still live")
    }
    ctx.check(planted > 0, "no planted re-posts were ingested")
  }

  private def metrics(ctx: Ctx, spans: Seq[Span],
      jobs: Seq[JobRec]): Map[String, Double] = {
    val measuredIds = TraceReport.descendants(spans,
      spans.filter(_.layer == "step").map(_.id).toSet)
    def under(layer: String): (Int, Seq[JobRec]) = {
      val roots = spans.filter(s => s.layer == layer && measuredIds.contains(s.id))
      val ids = TraceReport.descendants(spans, roots.map(_.id).toSet)
      (roots.size, jobs.filter(j => ids.contains(j.span)))
    }
    val (nRecall, recallJobs) = under("recall")
    val (nIngest, ingestJobs) = under("ingest")
    val rows = (1 to ProbeSteps).map(steps(_).reqs.size).sum.toDouble
    val sh = store.describe()
    val ih = index.describe()
    def p50(kind: String) = Stats.median(measured.filter(_.kind == kind).map(_.ms).toSeq)
    val ingestS = measured.filter(_.kind == "ingest").map(_.ms).sum / 1000.0
    Map(
      "store.jobs_per_recall" -> recallJobs.size.toDouble / math.max(nRecall, 1),
      "store.input_bytes_per_recall" -> recallJobs.map(_.input).sum.toDouble / math.max(nRecall, 1),
      "store.jobs_per_ingest" -> ingestJobs.size.toDouble / math.max(nIngest, 1),
      "store.bytes_written_per_row" -> ingestJobs.map(_.output).sum / rows,
      "store.segments" -> sh.segments.toDouble,
      "store.max_bucket_segments" -> sh.maxBucketSegments.toDouble,
      "store.generations" -> sh.generation.toDouble,
      "store.compactions" -> compactions.toDouble,
      "index.segments" -> ih.segments.toDouble,
      "index.bloom_fill" -> ih.bloomFill,
      "index.band_keys" -> ih.bandKeys.getOrElse(0L).toDouble,
      "index.hot_bands" -> ih.hotBands.getOrElse(0L).toDouble,
      "index.dup_flag_recall" -> (if (planted == 0) 0.0 else flagged.toDouble / planted),
      "agent.ingest_ms_p50" -> p50("ingest"),
      "agent.ingest_rows_per_s" -> (if (ingestS == 0) 0.0 else rows / ingestS),
      "agent.recall_ms_p50" -> p50("recall"),
      "agent.forget_ms_p50" -> p50("forget"),
      "agent.space_amp" -> spaceAmp(ctx))
  }

  /** Store and index bytes on disk over the content bytes ingested. */
  def spaceAmp(ctx: Ctx): Double = {
    val root = Paths.get(s"${ctx.out}/agent")
    val bytes = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .map(Files.size).sum
    if (contentBytes == 0) 0.0 else bytes.toDouble / contentBytes
  }
}

object AgentProbe {
  final case class Req(req: RememberRequest, repost: Boolean, forgetStep: Int)
  final case class Recall(agent: String, query: String, strategy: String)
  final case class Step(reqs: Seq[Req], recalls: Seq[Recall],
      forgets: Seq[RememberRequest])

  /** Measured steps, after the uncounted first one. */
  val ProbeSteps = 1
  val IndexCapacity = 100000L
}
