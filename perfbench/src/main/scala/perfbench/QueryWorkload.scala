package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.queries._

/** The two query workloads over the registered query groups.
  *
  * Each pass runs the workload's timed queries in a fixed order, one at a
  * time (one client, closed loop), with the cache cleared after every
  * query. The timed queries' outputs, and after timing those of one
  * rotating shard of the workload's other queries, are written for the
  * DuckDB oracle comparison made by `run.py`; over successive seeds the
  * shards cover every query of the workload. */
final class QueryWorkload(groups: Seq[QueryGroup], timed: Seq[String],
    shards: Int) {

  private val defs: Seq[QueryDef] = groups.flatMap(_.all)
  private val byName = defs.map(d => d.name -> d).toMap
  private val groupOf: Map[String, String] =
    groups.flatMap(g => g.all.map(_.name -> QueryWorkload.groupName(g))).toMap
  private val reference = mutable.Map[String, String]()
  private var census = Map[String, Census]()

  private def timedDefs(ctx: Ctx): Seq[QueryDef] = timed.flatMap { n =>
    val d = byName.get(n)
    if (d.isEmpty) ctx.check(ok = false, s"timed query $n is not registered")
    d
  }

  /** Build, plan and execute one query; returns (ms, checksum). */
  private def runOne(ctx: Ctx, q: QueryDef): Option[(Double, String)] = {
    val t0 = System.nanoTime()
    val r = ctx.attempt(q.name) {
      ctx.span(q.name, "query") {
        val df = ctx.span("build", "build")(q.run(ctx.spark, ctx.data))
        val (forced, hashed) = ctx.span("plan", "plan") {
          val f = Force.checksumFrame(df)
          f._1.queryExecution.executedPlan
          f
        }
        val rows = ctx.span("execute", "execute")(forced.collect())
        if (ctx.tracer.enabled)
          census += q.name -> Census.of(forced.queryExecution.executedPlan)
        Force.value(rows, hashed)
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    ctx.spark.catalog.clearCache()
    r.map(ms -> _)
  }

  private def outDir(ctx: Ctx) = s"${ctx.out}/oracle"

  /** Writes a query's output for the oracle comparison. */
  private def write(ctx: Ctx, q: QueryDef): Boolean =
    ctx.attempt(s"${q.name}: write output") {
      q.run(ctx.spark, ctx.data).coalesce(1).write.mode("overwrite")
        .parquet(s"${outDir(ctx)}/${q.name}")
      ctx.spark.catalog.clearCache()
    }.isDefined

  /** Set-up writes each timed query's output, and the checksum of the
    * written output becomes the reference every pass must reproduce, so
    * the output the oracle checks is the output timed. One untimed pass
    * follows; pass times keep falling for a few passes more, which the
    * median over a run's passes absorbs. */
  def warm(ctx: Ctx): Unit = {
    QueryWorkload.checkCoverage(ctx)
    ctx.spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    timedDefs(ctx).filter(write(ctx, _)).foreach { q =>
      val back = ctx.spark.read.parquet(s"${outDir(ctx)}/${q.name}")
      val (forced, hashed) = Force.checksumFrame(back)
      reference(q.name) = Force.value(forced.collect(), hashed)
    }
    pass(ctx)
  }

  def pass(ctx: Ctx): Seq[Op] = ctx.span("pass", "pass") {
    timedDefs(ctx).flatMap { q =>
      runOne(ctx, q).map { case (ms, cs) =>
        ctx.check(reference.get(q.name).forall(_ == cs),
          s"${q.name}: checksum $cs differs from its written output's ${reference.getOrElse(q.name, "none")}")
        Op("query", q.name, ms)
      }
    }
  }

  /** After timing: writes one rotating shard of the untimed queries, and
    * the oracle SQL of every written output, in the layout `run.py`
    * compares. */
  def verify(ctx: Ctx): Unit = {
    val rest = defs.filterNot(d => timed.contains(d.name)).sortBy(_.name)
    val shard = Math.floorMod(ctx.seed, shards.toLong).toInt
    val written = timedDefs(ctx).map(_.name).filter(reference.contains) ++
      rest.zipWithIndex.collect { case (q, i) if i % shards == shard => q }
        .filter(write(ctx, _)).map(_.name)
    val sql = SparkEntry.oracleSql
    Files.createDirectories(Paths.get(outDir(ctx)))
    written.filterNot(sql.contains).foreach(n =>
      ctx.check(ok = false, s"$n: no oracle SQL registered"))
    Files.writeString(Paths.get(s"${outDir(ctx)}/oracle_sql.json"),
      Stats.obj(written.filter(sql.contains).map(n => n -> Stats.str(sql(n)))))
  }

  /** Per-layer metrics of the traced passes (`passSpans`), per pass. */
  def layerMetrics(spans: Seq[Span], passSpans: Seq[Span]): Map[String, Double] = {
    val n = math.max(passSpans.size, 1).toDouble
    val inPass = TraceReport.descendants(spans, passSpans.map(_.id).toSet)
    val ps = spans.filter(s => inPass.contains(s.id))
    val perGroup = ps.filter(_.layer == "query")
      .groupBy(s => groupOf.getOrElse(s.name, "?"))
      .map { case (g, ss) => s"queries.$g.ms" -> ss.map(s => (s.endNs - s.startNs) / 1e6).sum / n }
    val c = census.values.foldLeft(Census())(_ + _)
    perGroup ++ Map(
      "queries.build_ms" -> ps.filter(_.layer == "build").map(s => (s.endNs - s.startNs) / 1e6).sum / n,
      "plan.exchanges" -> c.exchanges.toDouble,
      "plan.broadcast_exchanges" -> c.broadcastExchanges.toDouble,
      "plan.sort_merge_joins" -> c.sortMergeJoins.toDouble,
      "plan.wscg_stages" -> c.wscgStages.toDouble,
      "plan.codegen_fallback_exprs" -> c.codegenFallbackExprs.toDouble,
      "plan.hof_lambdas" -> c.hofLambdas.toDouble)
  }
}

object QueryWorkload {
  def groupName(g: QueryGroup): String = g.getClass.getSimpleName.stripSuffix("$")

  /** LLM-data curation: the Pipeline, Dedup and Multimodal groups. */
  val curationGroups: Seq[QueryGroup] = Seq(Pipeline, Dedup, Multimodal)

  /** Memory, retrieval and analytics: the other eleven groups. */
  val interactiveGroups: Seq[QueryGroup] = Seq(Relational, TextAnalysis,
    Similarity, Retrieval, GraphOps, Lifecycle, Scoring, Temporal,
    EventWindows, Trust, Governance)

  /** The two workloads together must hold exactly the registered
    * queries, so a query added or removed later cannot fall out of the
    * benchmark unnoticed. */
  def checkCoverage(ctx: Ctx): Unit = {
    val ours = (curationGroups ++ interactiveGroups).flatMap(_.all.map(_.name))
    val registered = SparkEntry.queries.keySet
    ctx.check(ours.toSet == registered && ours.size == registered.size,
      s"coverage: benchmark holds ${ours.size} queries, registry ${registered.size}; " +
        s"missing ${(registered -- ours).toSeq.sorted.mkString(",")}; " +
        s"extra ${(ours.toSet -- registered).toSeq.sorted.mkString(",")}")
  }
}
