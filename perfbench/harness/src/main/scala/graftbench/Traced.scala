package graftbench

import org.apache.spark.sql.SparkSession

/** The traced run: the workload once untraced, then once under a
  * [[Probe]], which gives the per-layer metrics; the overhead figure is
  * traced minus untraced wall_s. The probe is detached before the
  * workload's output checks run. Returns the session that is live at
  * the end. */
object Traced {
  def run(spark0: SparkSession, w: Workload, a: Args, rep: Report, createMs: Double): SparkSession = {
    var spark = spark0
    // untraced first, then traced: the untraced run meets a colder JIT,
    // so traced minus untraced understates the tracing overhead
    val plain = new Report
    w.run(spark, a, plain, Tracer.Off, s"${a.out}/work-untraced")()
    val probe = new Probe(spark)
    val t0 = Clock.nowMs
    val checks = w.run(spark, a, rep, probe, s"${a.out}/work-traced")
    val wallMs = Clock.nowMs - t0
    probe.detach()
    checks()
    probe.writeSpans(s"${a.out}/spans.jsonl")

    rep.attempted += plain.attempted; rep.failed += plain.failed
    rep.wrong += plain.wrong; rep.errors ++= plain.errors
    (plain.info.get("executions"), rep.info.get("executions")) match {
      case (Some(x: Map[String, Int] @unchecked), Some(y: Map[String, Int] @unchecked)) =>
        rep.info("executions") = (x.keySet ++ y.keySet).map(k =>
          k -> (x.getOrElse(k, 0) + y.getOrElse(k, 0))).toMap
      case _ => ()
    }

    val spans = probe.spans.toArray(Array.empty[Span]).toSeq
    val ops = spans.filter(_.layer == "operation")
    val nOps = math.max(1, ops.size).toDouble
    def perOp(k: String, scale: Double = 1.0): Double = probe.get(k) * scale / nOps
    val buildMs = spans.filter(_.layer == "operators").map(s => s.end - s.start)
    val self = probe.selfTimeByLayer()
    val v = Map[String, Double](
      "session.create_ms" -> createMs,
      "sources.scan_rows" -> perOp("sources.scan_rows"),
      "sources.scan_bytes" -> perOp("sources.scan_bytes"),
      "operators.build_ms" -> (if (buildMs.isEmpty) 0.0 else Stats.median(buildMs)),
      "plans.analysis_ms" -> perOp("plans.analysis_ms"),
      "plans.optimization_ms" -> perOp("plans.optimization_ms"),
      "plans.planning_ms" -> perOp("plans.planning_ms"),
      "plans.exchanges" -> perOp("plans.exchanges"),
      "plans.broadcasts" -> perOp("plans.broadcasts"),
      "plans.codegen_stages" -> perOp("plans.codegen_stages"),
      "spark.jobs" -> perOp("spark.jobs"),
      "spark.stages" -> perOp("spark.stages"),
      "spark.tasks" -> perOp("spark.tasks"),
      "spark.jobs_per_s" -> probe.get("spark.jobs") / (wallMs / 1000.0),
      "spark.scheduler_delay_ms" -> perOp("spark.scheduler_delay_ms"),
      "spark.executor_run_ms" -> perOp("spark.executor_run_ms"),
      "spark.executor_cpu_ms" -> perOp("spark.executor_cpu_ns", 1e-6),
      "spark.busy_share" -> probe.get("spark.executor_run_ms") / (wallMs * a.sparkCores),
      "spark.gc_ms" -> perOp("spark.gc_ms"),
      "spark.shuffle_read_bytes" -> perOp("spark.shuffle_read_bytes"),
      "spark.shuffle_write_bytes" -> perOp("spark.shuffle_write_bytes"),
      "spark.shuffle_records" -> perOp("spark.shuffle_records"),
      "spark.spill_bytes" -> perOp("spark.spill_bytes"),
      "spark.failed_tasks" -> probe.get("spark.failed_tasks").toDouble,
      "bench.trace_overhead_s" -> (rep.e2e("wall_s") - plain.e2e("wall_s"))
    ) ++ self.collect { case (l, ms) if l != "workload" => s"trace.self_ms.$l" -> ms / nOps }
    rep.info("trace_ops") = ops.size
    rep.info("trace_wall_s") = wallMs / 1000.0
    rep.info("untraced_wall_s") = plain.e2e("wall_s")
    rep.info("counters") = probe.totals
    v.foreach { case (k, x) => rep.layerMetric(k, x) }
    w match {
      case StreamLoop =>
        Main.stop(spark)
        spark = graft.GraftSession("graftbench-1core", "local[1]", 1)
        val eps = StreamLoop.catchupOnly(spark, a, s"${a.out}/work-1core")
        rep.layerMetric("streaming.catchup_events_per_s_1core", eps)
      case _ => ()
    }
    spark
  }
}
