package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional), the
  * clock Spark's listener events use. `op` is the operation id every
  * span of one workload operation shares. */
final case class Span(id: String, parent: String, op: String, layer: String,
                      name: String, start: Double, end: Double)

object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans around the benchmark's own calls into the program. The
  * untraced run uses [[Tracer.Off]], which only runs the body. */
trait Tracer {
  /** One workload operation (a query, a serve, an append, ...). */
  def op[T](name: String)(body: => T): T
  /** A call into one layer inside the current operation. */
  def span[T](layer: String, name: String)(body: => T): T
}

object Tracer {
  object Off extends Tracer {
    def op[T](name: String)(body: => T): T = body
    def span[T](layer: String, name: String)(body: => T): T = body
  }
}

/** The traced run's recorder: harness spans (workload → operation →
  * operator call → action) plus Spark's own listener, planning-tracker
  * and plan data (job → stage), all tagged with the operation id
  * through a local property set on the calling thread. Spans stay in
  * memory until [[Probe.writeSpans]]. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with Tracer {
  private val OpProp = "graftbench.op"
  private val StreamQuery = "sql.streaming.queryId"
  private val StreamBatch = "streaming.sql.batchId"
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val seq = new AtomicLong()
  private val open = new ThreadLocal[List[String]] { override def initialValue() = Nil }
  private val curOp = new ThreadLocal[String]
  private val jobStart = new ConcurrentHashMap[Int, (Double, String)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val workloadId = "workload"
  private val workloadStart = Clock.nowMs

  def add(k: String, v: Long): Unit = counters.computeIfAbsent(k, _ => new LongAdder).add(v)
  def get(k: String): Long = Option(counters.get(k)).map(_.sum).getOrElse(0L)
  def totals: Map[String, Long] = counters.asScala.map { case (k, v) => k -> v.sum }.toMap

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def record[T](layer: String, name: String, opId: String)(body: => T): T = {
    val id = s"s${seq.incrementAndGet()}"
    val parent = open.get.headOption.getOrElse(workloadId)
    open.set(id :: open.get)
    val t0 = Clock.nowMs
    try body
    finally {
      open.set(open.get.tail)
      spans.add(Span(id, parent, opId, layer, name, t0, Clock.nowMs))
    }
  }

  def op[T](name: String)(body: => T): T = {
    val opId = s"op${seq.incrementAndGet()}"
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(OpProp)
    curOp.set(opId)
    sc.setLocalProperty(OpProp, opId)
    try record("operation", name, opId)(body)
    finally { sc.setLocalProperty(OpProp, prevProp); curOp.remove() }
  }

  def span[T](layer: String, name: String)(body: => T): T =
    record(layer, name, Option(curOp.get).getOrElse(""))(body)

  /** A streaming micro-batch as one operation: its jobs carry the same
    * query and batch id, so they nest under it. */
  def batchSpan(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val ms = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
    val op = s"${p.id}:${p.batchId}"
    spans.add(Span(s"batch:$op", workloadId, op, "operation", s"batch ${p.name}", start, start + ms))
  }

  // ---- Spark listener: jobs, stages, tasks ----
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("spark.jobs", 1)
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    // a streaming micro-batch's jobs carry its query id and batch id
    val op = prop(OpProp).orElse(for (q <- prop(StreamQuery); b <- prop(StreamBatch)) yield s"$q:$b")
      .getOrElse("")
    jobStart.put(e.jobId, (e.time.toDouble, op))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  // a job's enclosing harness span is usually still open when the job
  // ends, so its parent is resolved when the spans are read ([[resolved]])
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, op) =>
      spans.add(Span(s"job${e.jobId}", if (op.isEmpty) workloadId else s"pending:$op",
        op, "spark.job", s"job ${e.jobId}", t0, e.time.toDouble))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    add("spark.stages", 1)
    for (t0 <- si.submissionTime; t1 <- si.completionTime) {
      val job = Option(stageJob.get(si.stageId)).map(j => s"job$j").getOrElse(workloadId)
      spans.add(Span(s"stage${si.stageId}.${si.attemptNumber()}", job, "",
        "spark.stage", si.name.takeWhile(_ != '('), t0.toDouble, t1.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    if (!e.taskInfo.successful) add("spark.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val dur = if (info.finishTime > 0) info.finishTime - info.launchTime else 0L
      val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      add("spark.scheduler_delay_ms", math.max(0L, dur - m.executorDeserializeTime -
        m.executorRunTime - m.resultSerializationTime - gettingResult))
      add("spark.executor_run_ms", m.executorRunTime)
      add("spark.executor_cpu_ns", m.executorCpuTime)
      add("spark.gc_ms", m.jvmGCTime)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spark.shuffle_records", m.shuffleWriteMetrics.recordsWritten)
      add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("sources.scan_rows", m.inputMetrics.recordsRead)
      add("sources.scan_bytes", m.inputMetrics.bytesRead)
      add("sources.output_bytes", m.outputMetrics.bytesWritten)
    }
  }

  // ---- planning tracker and executed plans ----
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    add("plans.actions", 1)
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => add(s"plans.${p}_ms", s.durationMs))
    }
    walk(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    add("plans.failed_actions", 1)

  private def walk(p: SparkPlan): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
      case s: QueryStageExec => walk(s.plan); return
      case _: ShuffleExchangeLike => add("plans.exchanges", 1)
      case _: BroadcastExchangeLike => add("plans.broadcasts", 1)
      case _: WholeStageCodegenExec => add("plans.codegen_stages", 1)
      case _ => ()
    }
    p.children.foreach(walk)
    p.subqueries.foreach(walk)
  }

  /** Spans as recorded, with jobs that started before their enclosing
    * harness span was recorded attached to the innermost one. */
  private def resolved: Seq[Span] = {
    val all = spans.asScala.toSeq :+ Span(workloadId, "", "", "workload", "workload",
      workloadStart, Clock.nowMs)
    val harness = all.filter(s => s.layer != "spark.job" && s.layer != "spark.stage")
    all.map { s =>
      if (!s.parent.startsWith("pending:")) s
      else {
        val op = s.parent.stripPrefix("pending:")
        val c = harness.filter(h => h.op == op && h.start <= s.start && s.start <= h.end)
        s.copy(parent = if (c.isEmpty) workloadId else c.maxBy(_.start).id)
      }
    }
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval that its children cover. */
  def selfTimeByLayer(): Map[String, Double] = {
    val all = resolved
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      s.layer -> math.max(0.0, (s.end - s.start) - covered)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
  }

  def writeSpans(path: String): Unit = {
    val lines = resolved.map(s => Json(Map("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.start,
      "end_ms" -> s.end)))
    Fs.write(path, lines.mkString("\n") + "\n")
  }
}
