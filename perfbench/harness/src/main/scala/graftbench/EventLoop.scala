package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.{Graft, SparkEntry}

/** Closed loop, one client: the reference's own jobs, as registered
  * queries, run back to back, each pass in a seeded order. The first
  * pass runs with the session memos cleared (cold_s); warm passes repeat
  * until the run's seconds are used and at least [[MinPasses]] have run.
  * Every result is digested; a warm result that differs from the cold
  * one is a wrong answer. The returned check dumps the cold results for
  * the DuckDB oracle check run.py makes afterwards. */
object EventLoop extends Workload {
  val MinPasses = 2
  /** A traced run measures the loop twice (see [[Traced]]), each time
    * with exactly this many warm passes, so its counts do not depend on
    * how fast the passes ran. */
  val TracedPasses = 1
  val Queries: Seq[String] = Seq(
    "hot_users_topn", "hot_users_topn_sql", "page_views", "unique_visitors",
    "unique_visitors_approx", "uv_bitmap", "uv_udaf", "channel_counts",
    "total_counts", "events_by_type_salted", "clicks_by_province", "blacklist",
    "blacklist_stateful", "login_fail", "login_fail_cep", "order_timeout",
    "tx_match", "tx_match_join", "late_events", "session_windows",
    "attribution_asof", "funnel", "click_no_purchase")

  def run(spark: SparkSession, a: Args, rep: Report, t: Tracer, work: String): () => Unit = {
    val d = a.in
    val first = mutable.LinkedHashMap[String, (String, Array[Row], StructType)]()
    val execs = mutable.Map[String, Int]().withDefaultValue(0)
    var outRows = 0L

    /** One query as the client sees it: build the DataFrame, collect it. */
    def once(q: String): Option[(Double, Array[Row], StructType)] =
      rep.attempt(q) {
        t.op(q) {
          val t0 = System.nanoTime()
          val df = t.span("operators", q)(SparkEntry.queries(q)(spark, d))
          val rows = t.span("action", "collect")(df.collect())
          ((System.nanoTime() - t0) / 1e6, rows, df.schema)
        }
      }

    def pass(p: Int): (Double, Seq[(String, Double)]) = {
      val order = new scala.util.Random(a.seed * 7919L + p).shuffle(Queries)
      val t0 = System.nanoTime()
      val lat = order.flatMap { q =>
        once(q).map { case (ms, rows, schema) =>
          execs(q) += 1
          outRows += rows.length
          val dg = Rows.digest(rows)
          first.get(q) match {
            case None => first(q) = (dg, rows, schema)
            case Some((d0, _, _)) => if (dg != d0) rep.wrongAnswer(s"$q pass $p differs from pass 0")
          }
          q -> ms
        }
      }
      ((System.nanoTime() - t0) / 1e9, lat)
    }

    Graft.clearSession(spark)
    val (coldS, _) = pass(0)
    Heap.sample()
    // the first warm pass still runs while the JIT compiles hot paths,
    // so wall_s is the median over at least MinPasses passes
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val walls = mutable.ArrayBuffer[Double]()
    val lat = mutable.ArrayBuffer[(String, Double)]()
    def more = if (a.trace) walls.size < TracedPasses
      else walls.size < MinPasses || System.nanoTime() < deadline
    while (more) {
      val (w, l) = pass(walls.size + 1)
      walls += w; lat ++= l
      Heap.sample()
    }
    val ms = lat.map(_._2).toSeq
    rep.metric("cold_s", coldS)
    rep.metric("wall_s", Stats.median(walls.toSeq))
    rep.metric("op_p50_ms", Stats.quantile(ms, 0.5))
    rep.info("passes") = walls.size
    rep.info("pass_walls_s") = walls.toSeq
    rep.info("latency_samples") = ms.size
    rep.info("op_p90_ms") = Stats.quantile(ms, 0.9)
    rep.info("query_median_ms") = lat.groupBy(_._1).view
      .mapValues(x => Stats.median(x.map(_._2).toSeq)).toMap
    rep.info("executions") = execs.toMap
    rep.layerMetric("operators.output_rows", outRows.toDouble / math.max(1, execs.values.sum))

    // oracle inputs: the first result of every query, plus its SQL;
    // the small writes run concurrently, one thread per core
    () => {
      val oracle = SparkEntry.oracleSql
      val pool = java.util.concurrent.Executors.newFixedThreadPool(a.sparkCores)
      try {
        first.toSeq.map { case (q, (_, rows, schema)) =>
          pool.submit(new Runnable {
            def run(): Unit = spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
              .write.mode("overwrite").parquet(s"${a.out}/oracle/$q")
          })
        }.foreach(_.get())
      } finally pool.shutdown()
      Fs.write(s"${a.out}/oracle/oracle_sql.json",
        Json(first.keys.flatMap(q => oracle.get(q).map(q -> _)).toMap))
    }
  }
}
