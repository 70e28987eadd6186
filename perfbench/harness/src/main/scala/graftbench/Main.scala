package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.{Graft, GraftSession}

/** Command line of one benchmark run (see perfbench/run.py, which
  * generates the inputs and starts this JVM). */
final case class Args(workload: String, in: String, out: String, seconds: Double,
                      trace: Boolean, seed: Long, cores: Int) {
  /** Spark's local thread count: the stream workload keeps one core for
    * its generator thread, so the process never runs more busy threads
    * than the host has cores. */
  def sparkCores: Int = if (workload == "stream_replay") math.max(1, cores - 1) else cores
}

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("in"), req("out"), req("seconds").toDouble,
      req("trace") == "1", req("seed").toLong, req("cores").toInt)
  }
}

/** Everything one run measured and checked; written as result.json.
  * Metrics are values only: their units are declared once, in
  * BENCHMARK.json, and attached by run.py. */
final class Report {
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()
  val errors = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  var wrong = 0L

  def metric(name: String, v: Double): Unit = e2e(name) = v
  def layerMetric(name: String, v: Double): Unit = layer(name) = v

  /** Run one counted operation; an exception counts it as failed. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case t: Throwable =>
      failed += 1
      errors += s"$what: ${t.toString.take(400)}"
      None
    }
  }

  def wrongAnswer(what: String): Unit = { wrong += 1; errors += s"wrong answer: $what" }

  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) wrongAnswer(what)
  }

  def json: String = Json(Map(
    "metrics" -> e2e, "per_layer" -> layer,
    "info" -> info, "errors" -> errors, "attempted" -> attempted,
    "failed" -> failed, "wrong" -> wrong))
}

/** Live heap: bytes still occupied right after a full collection,
  * sampled at fixed points outside every timed interval. Spark's
  * ContextCleaner releases what a collection found unreachable (about
  * 35 MB after some event_analytics passes) on its own thread, up to
  * some 200 ms later, so collections repeat until the heap stops
  * shrinking. */
object Heap {
  private val SettleMs = 400L
  private val SettleBytes = 1L << 20
  private var peak = 0L
  private def collected(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
  def sample(): Unit = {
    var prev = collected()
    Thread.sleep(SettleMs)
    var used = collected()
    while (prev - used > SettleBytes) {
      prev = used
      Thread.sleep(SettleMs)
      used = collected()
    }
    peak = math.max(peak, used)
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

trait Workload {
  /** Run the workload's measured loop once, with scratch state under
    * `work`, recording end-to-end metrics into `rep`. Returns the
    * output checks, which the caller runs after the measurement (and,
    * in a traced run, after the probe has been detached), so that
    * neither their time nor their Spark jobs are counted. */
  def run(spark: SparkSession, a: Args, rep: Report, t: Tracer, work: String): () => Unit
}

object Main {
  val workloads: Map[String, Workload] = Map(
    "event_analytics" -> EventLoop,
    "stream_replay" -> StreamLoop)

  /** The first session of this JVM. Returns it with the seconds from
    * JVM start until it is ready and the ms of the GraftSession() call. */
  def setup(a: Args): (SparkSession, Double, Double) = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val t0 = Clock.nowMs
    val spark = GraftSession("graftbench", s"local[${a.sparkCores}]", a.sparkCores)
    val t1 = Clock.nowMs
    (spark, (t1 - jvmStart) / 1000.0, t1 - t0)
  }

  def stop(spark: SparkSession): Unit = {
    Graft.clearSession(spark)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val w = workloads.getOrElse(a.workload, sys.error(s"unknown workload ${a.workload}"))
    val (spark, setupS, createMs) = setup(a)
    val rep = new Report
    rep.metric("setup_s", setupS)
    rep.info("create_ms") = createMs
    Heap.sample()
    val live =
      if (a.trace) Traced.run(spark, w, a, rep, createMs)
      else {
        val checks = w.run(spark, a, rep, Tracer.Off, s"${a.out}/work")
        Heap.sample()
        checks()
        spark
      }
    rep.metric("live_heap_mb", Heap.peakMb)
    Files.writeString(Paths.get(s"${a.out}/result.json"), rep.json)
    stop(live)
  }
}
