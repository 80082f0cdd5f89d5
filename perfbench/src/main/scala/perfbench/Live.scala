package perfbench

import java.io.ByteArrayOutputStream
import java.net.{HttpURLConnection, URI}
import java.sql.Timestamp
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.core.StampedStats
import graft.ingest.Codecs
import graft.queries.Registry
import graft.render.ChartPng
import graft.serve.{HttpEndpoint, LiveEndpoint, LiveServing}
import graft.state.{KeyedStore, MaterializedViews, ViewCatalog}
import graft.streaming.DeltaTracker
import perfbench.Main.{Metric, Opts, Result, median, quantile}

/** The live workload, in closed-loop rounds. Each round feeds one
  * statewise snapshot, one row per state, to two streaming queries in
  * turn. That is the shape of the reference's `statewise-data` input,
  * and it fits one of its polls of at most 100 records (BASELINE.md).
  *  - `DeltaTracker.statewise` → `ViewCatalog.serveDurable`, which
  *    upserts the latest delta per state into a `KeyedStore`;
  *  - the daily new-case totals per state,
  *    `MaterializedViews.serveDailyTotalsAsView`, served by
  *    `LiveEndpoint` (`/state/<key>`, `/summary`).
  * The round times the store's commit of the snapshot, then the view's,
  * then makes the reads a user makes of the fresh view: `/state/<key>`
  * with uniformly drawn keys, `/summary`, and the `HttpEndpoint` daily
  * chart PNG. Every round makes the same kinds of GETs, so rounds
  * compare like for like.
  *
  * The rounds run one step at a time because the open-loop form of this
  * workload (a steady feed beside open-loop GETs) swung by 20-33%
  * between identical runs on a 4-core machine. Each query then sees
  * exactly one snapshot per batch.
  *
  * After the run, the store and the view must equal a recomputation in
  * plain Scala over every row fed. Tracing alternates untraced and
  * traced rounds; traced rounds attach the listeners and end, after
  * their timed part, with direct probes of the layers. */
object Live {

  /** `/state` GETs per round, and the fewest `/state` and `/summary`
    * GETs a run measures: the measurement runs on past `--seconds`
    * until it has that many. */
  val StateGets = 24
  val MinReads = 100
  val WarmupS = 6.0
  private val SetupReps = 3
  private val View = "live_daily_totals"

  private val States = Seq("Andaman and Nicobar Islands", "Andhra Pradesh",
    "Arunachal Pradesh", "Assam", "Bihar", "Chandigarh", "Chhattisgarh",
    "Dadra and Nagar Haveli", "Delhi", "Goa", "Gujarat", "Haryana",
    "Himachal Pradesh", "Jammu and Kashmir", "Jharkhand", "Karnataka",
    "Kerala", "Ladakh", "Lakshadweep", "Madhya Pradesh", "Maharashtra",
    "Manipur", "Meghalaya", "Mizoram", "Nagaland", "Odisha", "Puducherry",
    "Punjab", "Rajasthan", "Sikkim", "Tamil Nadu", "Telangana", "Tripura",
    "Uttar Pradesh", "Uttarakhand", "West Bengal")
  /** The chart route each round GETs, and the registry query behind it. */
  private val ChartRoute = "today"
  private val ChartQuery = "q42_chart_json"

  /** One fed snapshot; `confirmed` etc. are the state's running totals. */
  final case class FeedRow(state: String, eventTime: Timestamp, confirmed: Long,
      deaths: Long, recovered: Long, newCases: Long, updated: String) {
    def json: String =
      s"""{"active":"${confirmed - deaths - recovered}","confirmed":"$confirmed",""" +
        s""""deaths":"$deaths","recovered":"$recovered","state":"$state",""" +
        s""""statecode":"${state.take(2).toUpperCase}","lastupdatedtime":"$updated",""" +
        s""""deltaconfirmed":"$newCases"}"""
  }

  /** The seeded feed: snapshot i of a run is always the same rows. A
    * snapshot holds one row per state, as the statewise API returns, and
    * is one simulated day after the one before it. */
  final class Feed(seed: Long) {
    private val r = new Random(seed)
    private val totals = mutable.Map.empty[String, (Long, Long, Long)]
    private val start = LocalDateTime.of(2020, 4, 1, 10, 0)
    private val fmt = DateTimeFormatter.ofPattern("dd/MM/yyyy HH:mm:ss")
    private var day = 0L
    def snapshot(): Seq[FeedRow] = {
      val t = start.plusDays(day)
      day += 1
      States.map(next(_, t))
    }
    private def next(state: String, t: LocalDateTime): FeedRow = {
      val (c, d, rec) = totals.getOrElse(state, (0L, 0L, 0L))
      val n = r.nextInt(60).toLong
      val c2 = c + n
      val d2 = d + (if (r.nextInt(8) == 0) 1 else 0)
      val rec2 = math.min(c2 - d2, rec + r.nextInt(50))
      totals(state) = (c2, d2, rec2)
      FeedRow(state, Timestamp.valueOf(t), c2, d2, rec2, n, t.format(fmt))
    }
  }

  /** One GET of a round. */
  final case class Get(kind: String, path: String, key: String,
      var startMs: Double = 0, var endMs: Double = 0, var ok: Boolean = false)

  /** One round: ms until the store, then the view, committed its
    * snapshot, the round's wall time without its probes, and its GETs. */
  final case class Round(storeMs: Double, viewMs: Double, wallMs: Double,
      gets: Seq[Get], traced: Boolean)

  /** Both streaming queries and both HTTP faces over one session. */
  final class Topology(val spark: SparkSession, opts: Opts, rep: Int) {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    // the same rows go into one MemoryStream per query: each query's
    // commit trims its source, so two queries cannot share one
    private val streams = Seq.fill(2)(MemoryStream[(Timestamp, String)])
    private val Seq(raw, raw2) = streams.map(_.toDF().toDF("eventTime", "value"))
    private val stamped = raw.select(col("eventTime"),
      from_json(col("value"), Codecs.statewiseStatsSchema).as("stats")).as[StampedStats]
    private val deltas = DeltaTracker.statewise(stamped).toDF()
      .select(col("eventTime"), col("delta.*"))
    val storePath = s"${opts.work}/live/rep$rep/store"
    val store: StreamingQuery =
      ViewCatalog.serveDurable(ViewCatalog.statewiseDeltaStats, deltas, storePath)
    val view: StreamingQuery = MaterializedViews.serveDailyTotalsAsView(
      raw2.select(col("eventTime"),
        get_json_object(col("value"), "$.state").as("state"),
        get_json_object(col("value"), "$.deltaconfirmed").cast("long").as("value")),
      "state", "eventTime", "value", View)
    val live: LiveEndpoint.Handle = LiveEndpoint.start(spark, View, keyCol = "state")
    val charts: HttpEndpoint.Handle = HttpEndpoint.start(spark, opts.tables)

    /** Snapshots fed so far: the i-th is stream offset i of both streams. */
    var snapshots = 0L
    val fed = mutable.ArrayBuffer.empty[FeedRow]

    private def data(rows: Seq[FeedRow]) = rows.map(r => (r.eventTime, r.json))

    /** Add a snapshot to the store's stream; it becomes offset `snapshots`. */
    def feedStore(rows: Seq[FeedRow]): Unit = {
      streams(0).addData(data(rows))
      snapshots += 1
      fed ++= rows
    }

    /** Add the same snapshot to the view's stream. */
    def feedView(rows: Seq[FeedRow]): Unit = streams(1).addData(data(rows))

    def stop(): Unit = {
      live.stop()
      charts.stop()
      store.stop()
      view.stop()
    }
  }

  def run(opts: Opts, result: Result): Unit = {
    Main.ensureData(opts)
    val feed = new Feed(opts.seed)
    val initial = feed.snapshot()

    var topo: Topology = null
    val setups = (1 to SetupReps).map { rep =>
      if (topo != null) { topo.stop(); Main.stop(topo.spark) }
      val t0 = System.nanoTime()
      val spark = Main.session(opts,
        Map("spark.sql.streaming.numRecentProgressUpdates" -> "1000000"))
      topo = new Topology(spark, opts, rep)
      topo.feedStore(initial)
      topo.feedView(initial)
      awaitCommitted(topo.store, 0)
      awaitCommitted(topo.view, 0)
      awaitOk(topo.live.port, s"/state/${enc(States.head)}")
      awaitOk(topo.charts.port, "/charts/today.png")
      val s = (System.nanoTime() - t0) / 1e9
      println(f"perfbench: setup $rep: $s%.3f s")
      s
    }
    result.e2e("setup_s") = Metric(median(setups), "s", setups.size)
    result.info("setup_cold_jvm_s") = Metric(setups.head, "s", 1)

    val t = topo
    val probes = if (opts.trace) Some(new Probes(t, new Tracer(t.spark), opts)) else None
    val rng = new Random(opts.seed * 7919 + 1)
    def key(): String = States(rng.nextInt(States.size))
    def now: Double = System.nanoTime() / 1e6

    var n = 0
    def round(traced: Boolean): Round = {
      probes.filter(_ => traced).foreach(_.begin())
      val rows = feed.snapshot()
      val k = t.snapshots
      val t0 = now
      t.feedStore(rows)
      awaitCommitted(t.store, k)
      val t1 = now
      t.feedView(rows)
      awaitCommitted(t.view, k)
      val t2 = now
      val gets = Seq.fill(StateGets)(key()).map(k => Get("state", s"/state/${enc(k)}", k)) ++
        Seq(Get("summary", "/summary", ""), Get("chart", s"/charts/$ChartRoute.png", ""))
      gets.foreach { g =>
        g.startMs = now
        g.ok = fetchOk(if (g.kind == "chart") t.charts.port else t.live.port, g)
        g.endMs = now
      }
      val wall = now - t0
      probes.filter(_ => traced).foreach { p => p.probe(n); p.end() }
      n += 1
      Round(t1 - t0, t2 - t1, wall, gets, traced)
    }

    val w0 = now
    while (now - w0 < WarmupS * 1000) round(traced = false)
    // rounds go in pairs, (untraced, traced) when tracing
    val rounds = mutable.ArrayBuffer.empty[Round]
    val m0 = now
    def readsDone = rounds.map(_.gets.count(_.kind != "chart")).sum
    while (now - m0 < opts.seconds * 1000 || rounds.size < 2 || rounds.size % 2 == 1 ||
        readsDone < MinReads)
      rounds += round(traced = probes.isDefined && rounds.size % 2 == 1)
    val progress = Seq(t.store, t.view).map(_.recentProgress.toSeq)

    // correctness: every GET, then the final store and view against the feed
    rounds.flatMap(_.gets).foreach { g =>
      result.attempted += 1
      if (!g.ok) result.fail(s"GET ${g.path} failed")
    }
    checkFinal(t, result)
    t.stop()
    Main.stop(t.spark)

    val untraced = rounds.filterNot(_.traced).toSeq
    def lat(kinds: String*) = untraced.flatMap(_.gets).filter(g => kinds.contains(g.kind))
      .map(g => g.endMs - g.startMs)
    val reads = lat("state", "summary")
    val charts = lat("chart")
    val storeMs = untraced.map(_.storeMs)
    val R = result
    R.e2e("work_s") = Metric(median(storeMs) / 1000, "s", storeMs.size)
    R.e2e("latency_ms") = Metric(median(reads), "ms", reads.size)
    R.info("store_commit_p50_ms") = Metric(median(storeMs), "ms", storeMs.size)
    R.info("view_commit_p50_ms") = Metric(median(untraced.map(_.viewMs)), "ms", untraced.size)
    R.info("round_p50_ms") = Metric(median(untraced.map(_.wallMs)), "ms", untraced.size)
    R.info("live_get_p50_ms") = Metric(median(reads), "ms", reads.size)
    R.info("live_get_p90_ms") = Metric(quantile(reads, 0.9), "ms", reads.size)
    R.info("chart_get_p50_ms") = Metric(median(charts), "ms", charts.size)
    R.info("chart_get_p90_ms") = Metric(quantile(charts, 0.9), "ms", charts.size)
    R.info("feed.rows") = Metric(t.fed.size.toDouble, "count")

    val batches = progress.flatten.filter(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    val L = R.layers
    L("streaming.batch_ms_p50") = Metric(median(batches.map(_.batchDuration.toDouble)),
      "ms", batches.size)
    L("streaming.plan_ms") = Metric(median(batches.map(dur(_, "queryPlanning"))), "ms")
    L("streaming.commit_ms") = Metric(
      median(batches.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))), "ms")
    L("streaming.state_rows") = Metric(progress.map(_.last.stateOperators
      .map(_.numRowsTotal).sum).sum.toDouble, "count")
    L("state.upsert_ms") = Metric(median(batches.map(dur(_, "addBatch"))), "ms")
    probes.foreach { p =>
      val traced = rounds.filter(_.traced).toSeq
      p.report(R, traced.flatMap(_.gets).filter(_.kind == "state").map(g => g.endMs - g.startMs))
      val pairs = rounds.toSeq.grouped(2).map(p => p(1).wallMs / p(0).wallMs).toSeq
      L("trace.overhead_pct") = Metric((median(pairs) - 1) * 100, "%", pairs.size)
    }
  }

  /** The store holds each state's latest delta and the view each
    * (state, day)'s new cases: recompute both from the fed rows. */
  private def checkFinal(t: Topology, result: Result): Unit = {
    val byState = t.fed.groupBy(_.state)
    val expectStore = byState.map { case (s, rows) =>
      val last = rows.last
      val prev = if (rows.size > 1) rows(rows.size - 2) else FeedRow(s, null, 0, 0, 0, 0, "")
      s -> (last.confirmed - prev.confirmed, last.deaths - prev.deaths,
        last.recovered - prev.recovered, last.confirmed, last.deaths, last.recovered,
        last.updated)
    }
    val gotStore = KeyedStore.read(t.spark, t.storePath).collect().map { r =>
      r.getAs[String]("state") -> (r.getAs[Long]("deltaConfirmed"),
        r.getAs[Long]("deltaDeaths"), r.getAs[Long]("deltaRecovered"),
        r.getAs[Long]("currentConfirmed"), r.getAs[Long]("currentDeaths"),
        r.getAs[Long]("currentRecovered"), r.getAs[String]("lastUpdatedTime"))
    }.toMap
    result.attempted += 1
    if (gotStore != expectStore) result.fail(
      s"store differs from the feed: ${(gotStore.toSet diff expectStore.toSet).take(2)}")

    val expectView = t.fed.groupBy(r => (r.state,
      r.eventTime.toLocalDateTime.toLocalDate.toString)).map { case (k, rows) =>
      k -> rows.map(_.newCases).sum.toDouble
    }
    val gotView = t.spark.table(s"global_temp.$View").collect().map { r =>
      (r.getAs[String]("state"), r.getAs[java.sql.Date]("day").toString) ->
        r.getAs[Any]("total").toString.toDouble
    }.toMap
    result.attempted += 1
    if (gotView != expectView) result.fail(
      s"view differs from the feed: ${(gotView.toSet diff expectView.toSet).take(2)}")
  }

  /** Direct layer probes of the traced rounds: the listeners are
    * attached for the round, which ends with a chart-query probe and a
    * direct read of the serving view. Listener figures are per traced
    * round, probes included. */
  final class Probes(t: Topology, tracer: Tracer, opts: Opts) {
    private val viewRead, chartBuild, chartPlan, chartAction, png, jobs, buildJobs =
      mutable.ArrayBuffer.empty[Double]
    private val deltas = mutable.ArrayBuffer.empty[(Tracer.Snap, Double)]
    private var before: Tracer.Snap = _
    private var started = 0L

    def begin(): Unit = {
      tracer.attach()
      before = tracer.snapshot()
      started = System.nanoTime()
    }

    def end(): Unit = {
      deltas += ((tracer.snapshot() - before, (System.nanoTime() - started) / 1e9))
      tracer.detach()
    }

    def probe(i: Int): Unit = {
      chartProbe(ChartQuery, i)
      viewRead += timeMs(LiveServing.servingRows(
        t.spark.table(s"global_temp.$View"), "state").collect())
    }

    private def chartProbe(name: String, i: Int): Unit = {
      val group = s"perfbench-probe-$i"
      t.spark.sparkContext.setJobGroup(group, group)
      val j0 = tracer.jobsOf(group)
      val t0 = System.nanoTime()
      val df = Registry.byName(name).fn(t.spark, opts.tables)
      val t1 = System.nanoTime()
      val b1 = tracer.jobsOf(group)
      val t1b = System.nanoTime()
      val json = df.collect().head.getString(0)
      val t2 = System.nanoTime()
      t.spark.sparkContext.clearJobGroup()
      chartBuild += (t1 - t0) / 1e9
      chartAction += (t2 - t1b) / 1e9
      chartPlan += df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1000.0
      buildJobs += (b1 - j0).toDouble
      jobs += (tracer.jobsOf(group) - j0).toDouble
      png += timeMs(ChartPng.render(json))
    }

    def report(r: Result, stateServiceMs: Seq[Double]): Unit = {
      val L = r.layers
      def perRound(f: Tracer.Snap => Double) = median(deltas.map(d => f(d._1)).toSeq)
      val n = deltas.size.toLong
      L("queries.build_s") = Metric(median(chartBuild.toSeq), "s", chartBuild.size)
      L("queries.action_s") = Metric(median(chartAction.toSeq), "s", chartAction.size)
      L("queries.jobs_p50") = Metric(median(jobs.toSeq), "count", jobs.size)
      L("queries.build_jobs") = Metric(median(buildJobs.toSeq), "count", buildJobs.size)
      L("queries.chart_ms") = Metric(
        median(chartBuild.zip(chartAction).map { case (b, a) => (b + a) * 1000 }.toSeq),
        "ms", chartBuild.size)
      L("plans.plan_s") = Metric(median(chartPlan.toSeq), "s", chartPlan.size)
      L("operators.cpu_s") = Metric(perRound(_.cpuNs / 1e9), "s", n)
      L("operators.run_s") = Metric(perRound(_.runMs / 1000.0), "s", n)
      L("operators.core_util") = Metric(median(deltas.map { case (d, secs) =>
        d.runMs / 1000.0 / (secs * opts.cpus) }.toSeq), "ratio", n)
      L("operators.tasks") = Metric(perRound(_.tasks.toDouble), "count", n)
      L("operators.shuffle_write_mb") = Metric(perRound(_.shuffleWrite / 1e6), "MB", n)
      L("operators.spill_mb") = Metric(perRound(_.spill / 1e6), "MB", n)
      L("sources.input_mb") = Metric(perRound(_.input / 1e6), "MB", n)
      L("render.png_ms") = Metric(median(png.toSeq), "ms", png.size)
      L("state.view_read_ms") = Metric(median(viewRead.toSeq), "ms", viewRead.size)
      if (stateServiceMs.nonEmpty) L("serve.http_ms") = Metric(
        median(stateServiceMs) - median(viewRead.toSeq), "ms", stateServiceMs.size)
    }
  }

  private def timeMs(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e6
  }

  private def enc(key: String): String =
    new URI(null, null, key, null).getRawPath

  private def get(port: Int, path: String): (Int, Array[Byte]) = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(30000)
    c.setReadTimeout(60000)
    try {
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      val out = new ByteArrayOutputStream()
      if (in != null) { in.transferTo(out); in.close() }
      (code, out.toByteArray)
    } finally c.disconnect()
  }

  /** Send one GET; true if it answered 200 with a well-formed body. */
  private def fetchOk(port: Int, g: Get): Boolean =
    try {
      val (code, body) = get(port, g.path)
      code == 200 && (g.kind match {
        case "state" => new String(body, "UTF-8").contains(s""""state":"${g.key}"""")
        case "summary" => new String(body, "UTF-8").startsWith("[{")
        case _ => body.length > 8 && body(1) == 'P' && body(2) == 'N' && body(3) == 'G'
      })
    } catch { case _: java.io.IOException => false }

  private def awaitOk(port: Int, path: String): Unit = {
    val deadline = System.nanoTime() + 120e9
    while (get(port, path)._1 != 200) {
      require(System.nanoTime() < deadline, s"$path never answered 200")
      Thread.sleep(10)
    }
  }

  /** Wait until `q` has committed stream offset `k`. */
  private def awaitCommitted(q: StreamingQuery, k: Long): Unit = {
    val deadline = System.nanoTime() + 120e9
    def done = Option(q.lastProgress).exists(p =>
      p.sources.nonEmpty && Option(p.sources.head.endOffset)
        .exists(o => o != "null" && o.trim.toLong >= k))
    while (!done) {
      q.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline, s"offset $k never committed")
      Thread.sleep(5)
    }
  }
}
