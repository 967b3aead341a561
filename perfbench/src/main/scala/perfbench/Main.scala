package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` generates the inputs, starts this
  * main, then compares the written query outputs against DuckDB and
  * prints the result line. Arguments (all required):
  *
  *   --workload curation_batch|interactive_suite
  *   --seed N --seconds S --trace 0|1 --cores C
  *   --data <generated tables> --out <run directory>
  *
  * Writes `<out>/result.json`: the end-to-end metrics (median, quartiles,
  * sample count), the calibration timings, the tally of attempted and
  * failed operations, and in a traced run the per-layer metrics;
  * a traced run also writes its spans to `<out>/spans.jsonl`.
  *
  * Measuring: after set-up (session start, the timed queries' outputs
  * written, one untimed pass), whole passes repeat while the next is
  * expected to end within `seconds`. A traced run spends the first half
  * untraced and the second half traced, so its tracing overhead is
  * measured within one process. */
object Main {

  /** A fixed Spark job timed before set-up, between set-up and the
    * measured passes, and after them, so bursts of outside load show in
    * the run's own artifact. */
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 4000000L, 1L, 4).selectExpr("sum(hash(id) % 1000)").collect()
    (System.nanoTime() - t0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val out = a("out")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, a("data"), out, a("seed").toLong, tracer)
    val w = name match {
      case "curation_batch" => new QueryWorkload(QueryWorkload.curationGroups,
        Workloads.curationTimed, Workloads.curationShards)
      case "interactive_suite" => new QueryWorkload(QueryWorkload.interactiveGroups,
        Workloads.interactiveTimed, Workloads.interactiveShards)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    calibrate(spark)
    val calib = mutable.LinkedHashMap[String, Double]("start" -> calibrate(spark))
    val t0 = System.nanoTime()
    w.warm(ctx)
    val warmS = (System.nanoTime() - t0) / 1e9

    // measuring: whole passes, one after another, while the next pass is
    // expected (from the last one) to end within the measuring time; at
    // least one. A traced run's traced half follows its untraced half.
    final case class PassRec(s: Double, ops: Seq[Op])
    def measure(budgetS: Double): Seq[PassRec] = {
      val start = System.nanoTime()
      val recs = mutable.ArrayBuffer[PassRec]()
      def elapsed = (System.nanoTime() - start) / 1e9
      while (recs.isEmpty || elapsed + recs.last.s <= budgetS * 1.1) {
        val p0 = System.nanoTime()
        val ops = w.pass(ctx)
        recs += PassRec((System.nanoTime() - p0) / 1e9, ops)
      }
      recs.toSeq
    }
    calib("mid") = calibrate(spark)
    val untraced = measure(if (traced) seconds / 2 else seconds)
    var listener: LayerListener = null
    val tracedPasses =
      if (!traced) Nil
      else {
        listener = LayerListener.attach(spark)
        tracer.enabled = true
        val r = measure(seconds / 2)
        LayerListener.drain(spark)
        r
      }
    calib("end") = calibrate(spark)

    val passS = untraced.map(_.s)
    val opMs = untraced.flatMap(_.ops.map(_.ms))
    val e2e = Seq(
      "setup_s" -> Stats.scalar("s", sessionS + warmS),
      "pass_s" -> Stats.metric("s", passS),
      "query_ms_p50" -> Stats.metric("ms", opMs))

    // per-layer numbers come from the traced passes only; snapshot the
    // Spark-side counters before the layer probes add their own jobs
    val layer = mutable.LinkedHashMap[String, Double]()
    if (traced) {
      val passSpans = tracer.spans.filter(_.layer == "pass").toSeq
      val spans = TraceReport.allSpans(tracer, listener)
      val inPass = TraceReport.descendants(spans, passSpans.map(_.id).toSet)
      val jobs = listener.jobs.values.filter(j => inPass.contains(j.span)).toSeq
      val n = math.max(passSpans.size, 1).toDouble
      val jobIv = jobs.filter(_.endMs >= 0).map(j => (tracer.toNs(j.startMs), tracer.toNs(j.endMs)))
      val jobNs = passSpans.map(p => TraceReport.covered(jobIv, p.startNs, p.endNs)).sum
      val passNs = passSpans.map(p => p.endNs - p.startNs).sum
      val runMs = jobs.map(_.runMs).sum.toDouble
      layer ++= Seq(
        "plan.analysis_ms" -> listener.analysisMs / n,
        "plan.optimization_ms" -> listener.optimizationMs / n,
        "plan.planning_ms" -> listener.planningMs / n,
        "spark.sql_executions" -> listener.sqlExecutions / n,
        "spark.jobs" -> jobs.size / n,
        "spark.stages" -> jobs.map(_.stages).sum / n,
        "spark.tasks" -> jobs.map(_.tasks).sum / n,
        "spark.driver_gap_ms" -> (passNs - jobNs) / 1e6 / n,
        "spark.executor_run_ms" -> runMs / n,
        "spark.executor_cpu_ms" -> jobs.map(_.cpuNs).sum / 1e6 / n,
        "spark.gc_ms" -> jobs.map(_.gcMs).sum / n,
        "spark.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum / n,
        "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum / n,
        "spark.spill_bytes" -> jobs.map(_.spill).sum / n,
        "spark.input_bytes" -> jobs.map(_.input).sum / n,
        "spark.output_bytes" -> jobs.map(_.output).sum / n,
        "spark.slot_util" -> (if (jobNs == 0) 0.0 else runMs * 1e6 / (jobNs.toDouble * cores)),
        "spark.failed_tasks" -> jobs.map(_.failedTasks).sum / n,
        "trace.overhead_ratio" -> Stats.median(tracedPasses.map(_.s)) / Stats.median(passS))
      TraceReport.selfMs(spans.filter(s => inPass.contains(s.id)))
        .foreach { case (l, ms) => layer(s"self.$l.ms") = ms / n }
      layer ++= w.layerMetrics(spans, passSpans)
    }

    val v0 = System.nanoTime()
    w.verify(ctx)
    val verifyS = (System.nanoTime() - v0) / 1e9

    if (traced) {
      layer ++= Layers.kernelMetrics(ctx)
      layer ++= Layers.mediaMetrics(ctx)
      layer ++= new AgentProbe().run(ctx, () => {
        LayerListener.drain(spark)
        (TraceReport.allSpans(tracer, listener), listener.jobs.values.toSeq)
      })
      LayerListener.drain(spark)
      Files.write(Paths.get(s"$out/spans.jsonl"), java.util.Arrays.asList(
        TraceReport.spansJson(TraceReport.allSpans(tracer, listener),
          s"$name-${ctx.seed}"): _*))
    }
    calib.foreach { case (k, v) => layer(s"calib.ms.$k") = v }

    val json = Stats.obj(Seq(
      "workload" -> Stats.str(name),
      "seed" -> ctx.seed.toString,
      "trace" -> (if (traced) "1" else "0"),
      "cores" -> cores.toString,
      "passes" -> untraced.size.toString,
      "pass_s_each" -> Stats.arr(untraced.map(p => Stats.num(p.s))),
      "traced_passes" -> tracedPasses.size.toString,
      "session_s" -> Stats.num(sessionS),
      "warm_s" -> Stats.num(warmS),
      "verify_s" -> Stats.num(verifyS),
      "jvm_s" -> Stats.num((System.currentTimeMillis() - jvmStartMs) / 1000.0),
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "failures" -> Stats.arr(ctx.failures.toSeq.map(Stats.str)),
      "metrics" -> Stats.obj(e2e.map { case (k, m) => k -> Stats.metricJson(m) }),
      "query_ms" -> Stats.obj(untraced.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (k, os) => k -> Stats.metricJson(Stats.metric("ms", os.map(_.ms))) }),
      "calib_ms" -> Stats.obj(calib.toSeq.map { case (k, v) => k -> Stats.num(v) }),
      "per_layer" -> Stats.obj(layer.toSeq.map { case (k, v) => k -> Stats.num(v) })))
    Files.writeString(Paths.get(s"$out/result.json"), json + "\n")
    spark.stop()
  }
}
