package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._
import graft.operators.Stateful
import graft.streaming.{Machines, StatefulStreams, StreamingJobs}

/** Open loop over the file source. A generator thread writes seeded
  * event files; two streaming faces read them:
  *  - windowed Top-N in update mode (StreamingJobs.windowedCounts +
  *    topNUpdate, ranked on the serving side);
  *  - the login-fail machine (StatefulStreams.runStreaming with
  *    Machines.LoginFailMachine).
  * Phase A drains a pre-written backlog one file per trigger (catch-up
  * rate; planted late events must all be dropped by the watermark).
  * Phase B writes files on a fixed schedule below the phase-A rate; each
  * event is stamped with the time its file was due, and a result row's
  * latency runs from the creation of its last contributing event to the
  * moment the sink has it. The returned check compares both faces with
  * their batch twins over the events the watermark kept. */
object StreamLoop extends Workload {
  val WindowSec = 10
  val Items = 500
  val Users = 1500
  val TopN = 5
  val BacklogFiles = 12
  val BacklogEvents = 2000
  // phase B: a file every 2 s keeps both faces well below busy (a
  // micro-batch costs about 0.4 s, mostly fixed), so a slower host
  // lengthens each batch without building a queue; at one file a second
  // queueing episodes moved a run's median latency by 60 % and more
  val LiveEvents = 300
  val LivePeriodMs = 2000L
  val LiveWarmupFiles = 5
  val LatePerFile = 25
  val LateFromFile = 3
  val BurstsPerFile = 3
  val LateUserBase = 1000000L
  val US = 1000000L

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("item_id", LongType), StructField("event_type", StringType),
    StructField("ts_us", LongType)))

  private val types = Array("view", "view", "view", "click", "click", "purchase", "signup", "error")

  /** Seeded event source. Content depends only on the seed; event times
    * and creation stamps come from the clock when a file is made. */
  final class Generator(seed: Long, dir: String, staging: String) {
    private val rnd = new scala.util.Random(seed)
    private var nextId = 0L
    private var lastTsUs = 0L
    /** (window start ms, item) -> creation ms of its kept events, in order. */
    val groups = new ConcurrentHashMap[(Long, Long), mutable.ArrayBuffer[Double]]()
    @volatile var filesWritten = 0
    var eventsWritten = 0L
    var lateWritten = 0L
    val fileRows = mutable.ArrayBuffer[Long]()
    val lagMs = mutable.ArrayBuffer[Double]()

    /** One file of `n` events with event times from `tsUs` upward, all
      * created at `createdMs`; returns the rows as written. */
    def file(n: Int, tsUs: Long, createdMs: Double, late: Int): Seq[String] = {
      val rows = mutable.ArrayBuffer[String]()
      var ts = math.max(tsUs, lastTsUs + 1)
      def emit(user: Long, item: Long, typ: String, evTs: Long, kept: Boolean): Unit = {
        rows += s"$nextId,$user,$item,$typ,$evTs"
        nextId += 1
        if (kept) {
          val w = (evTs / 1000) / (WindowSec * 1000L) * (WindowSec * 1000L)
          groups.computeIfAbsent((w, item), _ => mutable.ArrayBuffer[Double]()).synchronized {
            groups.get((w, item)) += createdMs
          }
        }
      }
      val bursts = (0 until BurstsPerFile).map(_ => rnd.nextInt(n)).toSet
      var i = 0
      while (i < n) {
        val item = (Items * math.pow(rnd.nextDouble(), 2)).toLong
        if (bursts(i)) { // three consecutive failed logins of one user
          val u = rnd.nextInt(Users).toLong
          (0 until 3).foreach { _ => emit(u, item, "error", ts, kept = true); ts += 1 }
          i += 3
        } else {
          emit(rnd.nextInt(Users).toLong, item, types(rnd.nextInt(types.length)), ts, kept = true)
          ts += 1; i += 1
        }
      }
      // late events: each its own user, item and window, far behind the
      // watermark, so each is one row the stateful operators drop
      (0 until late).foreach { j =>
        val k = lateWritten + j
        emit(LateUserBase + k, LateUserBase + k, "view", tsUs - 3600L * US - k * WindowSec * US, kept = false)
      }
      lateWritten += late
      lastTsUs = ts
      eventsWritten += rows.size
      fileRows += rows.size
      rows.toSeq
    }

    def publish(rows: Seq[String], mtimeMs: Option[Long]): Unit = {
      val name = f"events-$filesWritten%05d.csv"
      val tmp = Paths.get(staging, name)
      Files.write(tmp, rows.mkString("", "\n", "\n").getBytes("UTF-8"))
      mtimeMs.foreach(m => Files.setLastModifiedTime(tmp, FileTime.fromMillis(m)))
      Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
      filesWritten += 1
    }

    /** The phase-A backlog: event times ending now, distinct past mtimes
      * so the source reads the files in order. */
    def backlog(): Unit = {
      val now = System.currentTimeMillis()
      val spanUs = BacklogFiles * 2L * US
      (0 until BacklogFiles).foreach { f =>
        val tsUs = now * 1000L - spanUs + f * 2L * US
        val late = if (f >= LateFromFile) LatePerFile else 0
        publish(file(BacklogEvents, tsUs, Clock.nowMs, late), Some(now - 60000L + f * 10L))
      }
    }

    /** Phase B on its schedule, in this (generator) thread. */
    def live(startMs: Double, files: Int): Unit =
      (0 until files).foreach { f =>
        val due = startMs + f * LivePeriodMs
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        publish(file(LiveEvents, (due * 1000).toLong, due, 0), None)
        lagMs += Clock.nowMs - due
      }
  }

  /** Progress of every micro-batch, per query. */
  final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentHashMap[java.util.UUID, java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]]()
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      batches.computeIfAbsent(e.progress.id, _ => new java.util.concurrent.ConcurrentLinkedQueue()).add(e.progress)
    def of(q: StreamingQuery): Seq[StreamingQueryProgress] =
      Option(batches.get(q.id)).map(_.asScala.toSeq).getOrElse(Nil)
    def rows(q: StreamingQuery): Long = of(q).map(_.numInputRows).sum
    def dataBatches(q: StreamingQuery): Int = of(q).count(_.numInputRows > 0)
  }

  final class Faces(spark: SparkSession, dir: String, work: String, gen: Generator) {
    import spark.implicits._
    val table = new ConcurrentHashMap[(Long, Long), Long]()
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    /** (creation ms of the last contributing event, latency ms) */
    val latency = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
    val outRows = new java.util.concurrent.atomic.AtomicLong()
    @volatile var liveFromMs = Double.MaxValue

    private def source: DataFrame =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).csv(dir)
        .withColumn("ts", timestamp_micros(col("ts_us")))

    val topN: StreamingQuery = StreamingJobs.topNUpdate(
      StreamingJobs.windowedCounts(source, s"$WindowSec seconds", None, Seq(col("item_id")),
        wmDelay = "2 seconds")) { (batch, _) =>
      val rows = batch.select(col("window_end").cast("long"), col("item_id"), col("cnt")).collect()
      rows.foreach(r => table.put((r.getLong(0), r.getLong(1)), r.getLong(2)))
      outRows.addAndGet(rows.length)
      val emitted = Clock.nowMs
      rows.foreach { r =>
        val last = gen.groups.get(((r.getLong(0) - WindowSec) * 1000L, r.getLong(1)))
        val created = last.synchronized(last(r.getLong(2).toInt - 1))
        if (created >= liveFromMs) latency.add((created, emitted - created))
      }
    }

    val login: StreamingQuery = {
      val ds = source.withWatermark("ts", "2 seconds")
        .select(col("user_id"), col("ts_us"), col("event_id"),
          (col("event_type") === "error").as("flag"), col("ts"))
        .as[(Long, Long, Long, Boolean, java.sql.Timestamp)]
      StatefulStreams.runStreaming(ds.groupByKey(_._1),
          new Machines.LoginFailMachine(2, 7200L * US))(
          r => Machines.Flagged(r._2, r._3, r._4))((k, o) => (k, o._1, o._2))
        .toDF("user_id", "first_fail_us", "last_fail_us")
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$work/ckpt-login")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val rows = batch.collect()
          val emitted = Clock.nowMs
          outRows.addAndGet(rows.length)
          rows.foreach { r =>
            warnings.add((r.getLong(0), r.getLong(1), r.getLong(2)))
            val created = r.getLong(2) / 1000.0
            if (created >= liveFromMs) latency.add((created, emitted - created))
          }
        }.start()
    }

    def stop(): Unit = { topN.stop(); login.stop() }
  }

  private def await(cond: => Boolean, what: String, timeoutS: Double = 120): Unit = {
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond) {
      if (System.nanoTime() > end) sys.error(s"timed out waiting for $what")
      Thread.sleep(2)
    }
  }

  private def dirs(work: String): (String, String) = {
    val dir = s"$work/source"
    val staging = s"$work/staging"
    Files.createDirectories(Paths.get(dir)); Files.createDirectories(Paths.get(staging))
    (dir, staging)
  }

  /** Phase A only, for the single-thread baseline: backlog events per
    * second from the end of the first batch to the end of the backlog. */
  def catchupOnly(spark: SparkSession, a: Args, work: String): Double = {
    val (dir, staging) = dirs(work)
    val gen = new Generator(a.seed, dir, staging)
    gen.backlog()
    val progress = new Progress
    spark.streams.addListener(progress)
    val faces = new Faces(spark, dir, work, gen)
    try drain(faces, progress, gen)._3
    finally { faces.stop(); spark.streams.removeListener(progress) }
  }

  /** (ms from start to the first batch of both faces, seconds from
    * there to the end of the backlog, backlog events/s over that time). */
  private def drain(faces: Faces, progress: Progress, gen: Generator): (Double, Double, Double) = {
    val t0 = Clock.nowMs
    val qs = Seq(faces.topN, faces.login)
    await(qs.forall(q => progress.dataBatches(q) >= 1), "first batch")
    val t1 = Clock.nowMs
    await(qs.forall(q => progress.rows(q) >= gen.eventsWritten), "backlog drained")
    val t2 = Clock.nowMs
    val drainS = (t2 - t1) / 1000.0
    (t1 - t0, drainS, (gen.eventsWritten - gen.fileRows.head) / drainS)
  }

  def run(spark: SparkSession, a: Args, rep: Report, t: Tracer, work: String): () => Unit = {
    val (dir, staging) = dirs(work)
    val gen = new Generator(a.seed, dir, staging)
    gen.backlog()
    val progress = new Progress
    spark.streams.addListener(progress)
    val jobs0 = t match { case p: Probe => p.drain(); p.get("spark.jobs"); case _ => 0L }
    val faces = new Faces(spark, dir, work, gen)
    val qs = Seq(faces.topN, faces.login)
    try {
      val (coldMs, drainS, catchup) = drain(faces, progress, gen)
      val phaseA = qs.map(q => q -> progress.of(q).size).toMap
      val dropped = qs.map(q => progress.of(q).flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum)
      dropped.zip(Seq("topn", "login")).foreach { case (n, face) =>
        rep.check(s"phase A: $face dropped $n late rows, planted ${gen.lateWritten}", n == gen.lateWritten)
      }

      // phase B: the generator runs on its own schedule
      // the first LiveWarmupFiles files of phase B warm the JIT for the
      // small-batch paths (their latencies fall by half); latency is
      // sampled from the files after them
      val start = Clock.nowMs + 50
      faces.liveFromMs = start + LiveWarmupFiles * LivePeriodMs
      var backlogMax = 0
      // the measured part of phase B lasts the run's seconds
      val liveFiles = LiveWarmupFiles + math.max(5, math.round(a.seconds * 1000 / LivePeriodMs).toInt)
      val g = new Thread(() => gen.live(start, liveFiles), "perfbench-generator")
      g.start()
      while (g.isAlive) {
        backlogMax = math.max(backlogMax, gen.filesWritten - qs.map(progress.dataBatches).min)
        Thread.sleep(5)
      }
      g.join()
      await(qs.forall(q => progress.rows(q) >= gen.eventsWritten), "live files drained")
      qs.foreach(_.processAllAvailable())
      Heap.sample()
      val jobs = t match { case p: Probe => p.drain(); p.get("spark.jobs") - jobs0; case _ => 0L }

      val all = qs.flatMap(progress.of)
      val data = all.filter(_.numInputRows > 0)
      rep.attempted += data.size
      def dur(k: String) = Stats.median(data.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      val (fixed, slope) = Stats.fit(data.map(p => (p.numInputRows.toDouble,
        Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0))))
      val lat = faces.latency.asScala.toSeq.map(_._2)
      rep.metric("cold_s", coldMs / 1000.0)
      rep.metric("wall_s", drainS)
      rep.metric("op_p50_ms", Stats.quantile(lat, 0.5))
      rep.info("catchup_events_per_s") = catchup
      rep.info("op_p90_ms") = Stats.quantile(lat, 0.9)
      rep.info("event_latency_p99_ms") = Stats.quantile(lat, 0.99)
      rep.info("latency_samples") = lat.size
      rep.info("live_file_latency_p50_ms") = faces.latency.asScala.toSeq
        .groupBy(x => math.round((x._1 - faces.liveFromMs) / LivePeriodMs)).toSeq.sortBy(_._1)
        .map(g => Stats.median(g._2.map(_._2)))
      rep.info("batches") = all.size
      rep.info("events") = gen.eventsWritten
      rep.layerMetric("streaming.trigger_ms", dur("triggerExecution"))
      rep.layerMetric("streaming.query_planning_ms", dur("queryPlanning"))
      rep.layerMetric("streaming.get_batch_ms", dur("getBatch"))
      rep.layerMetric("streaming.add_batch_ms", dur("addBatch"))
      rep.layerMetric("streaming.wal_commit_ms", dur("walCommit"))
      rep.layerMetric("streaming.commit_offsets_ms", dur("commitOffsets"))
      rep.layerMetric("streaming.jobs_per_batch", jobs.toDouble / math.max(1, data.size))
      rep.layerMetric("streaming.fixed_ms_per_batch", fixed)
      rep.layerMetric("streaming.ms_per_1k_rows", slope * 1000)
      rep.layerMetric("streaming.state_rows", qs.map(q => progress.of(q)
        .map(_.stateOperators.map(_.numRowsTotal).sum).maxOption.getOrElse(0L)).sum.toDouble)
      rep.layerMetric("streaming.state_bytes", qs.map(q => progress.of(q)
        .map(_.stateOperators.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L)).sum.toDouble)
      rep.layerMetric("streaming.rows_dropped_late", dropped.sum.toDouble)
      rep.layerMetric("streaming.backlog_files", backlogMax.toDouble)
      rep.layerMetric("bench.generator_lag_ms", gen.lagMs.maxOption.getOrElse(0.0))
      rep.info("phase_a_batches") = phaseA.values.sum
      t match { case p: Probe => all.foreach(p.batchSpan); case _ => () }
      rep.layerMetric("operators.output_rows", faces.outRows.get.toDouble / math.max(1, data.size))
      () => twins(spark, rep, dir, work, faces)
    } finally {
      faces.stop()
      spark.streams.removeListener(progress)
    }
  }

  /** Both faces against their batch twins over the kept events. */
  private def twins(spark: SparkSession, rep: Report, dir: String, work: String, faces: Faces): Unit = {
    val kept = spark.read.schema(schema).csv(dir).filter(col("user_id") < LateUserBase)
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val counts = StreamingJobs.windowedCounts(kept, s"$WindowSec seconds", None, Seq(col("item_id")))
    val batch = counts.select(col("window_end").cast("long"), col("item_id"), col("cnt")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val served = faces.table.asScala.toMap
    rep.check("windowed counts == batch twin", served == batch)
    val batchTop = StreamingJobs.topNPerWindow(counts, TopN, "item_id")
      .select(col("window_end").cast("long"), col("item_id"), col("cnt"), col("rn")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val servedTop = served.groupBy(_._1._1).flatMap { case (w, m) =>
      m.toSeq.map { case ((_, k), c) => (k, c) }.sortBy { case (k, c) => (-c, k) }.take(TopN)
        .zipWithIndex.map { case ((k, c), i) => (w, k, c, i + 1) }
    }.toSet
    rep.check("served Top-N == batch twin", servedTop == batchTop)

    val twinDir = s"$work/twin"
    kept.select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"), col("user_id"),
        col("event_type"), lit(0.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$twinDir/events.parquet")
    val warn = Stateful.loginFail(spark, twinDir)
      .select("user_id", "first_fail_us", "last_fail_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = faces.warnings.asScala.toSeq
    rep.check("login warnings == batch twin", streamed.size == streamed.toSet.size && streamed.toSet == warn)
    rep.info("login_warnings") = warn.size
    rep.info("topn_groups") = batch.size
  }
}
