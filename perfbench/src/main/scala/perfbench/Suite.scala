package perfbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import perfbench.Main.{Metric, Opts, Result, geomean, median, quantile}

/** The batch workloads: a fixed list of registry queries run pass after
  * pass, each query built by its registry function and then driven to
  * completion through [[DigestSink]] (the `noop` write path plus an
  * output digest). A pass runs the list in an order drawn from the seed.
  *
  * Set-up is timed three times, each from session start through one
  * cold pass of the list in a fresh session; the first is the cold JVM,
  * the other two also warm it up. Untimed passes finish the warm-up,
  * then passes are measured for the run's seconds. Every execution's digest is compared with the stored
  * one after its timed region.
  *
  * Tracing alternates untraced and traced passes, so the traced run
  * reports its own overhead against the untraced passes beside it. */
object Suite {

  private final case class Exec(name: String, buildS: Double, actionS: Double,
      ok: Boolean, buildJobs: Long = 0, jobs: Long = 0) {
    def wallS: Double = buildS + actionS
  }

  private final case class Pass(wallS: Double, execs: Seq[Exec],
      traced: Option[Tracer.Snap])

  private val SetupReps = 3
  /** Untimed passes after set-up: pass times were still falling by
    * 20% over the first five passes after the three set-up passes. */
  private val WarmupS = 5.0

  def run(opts: Opts, result: Result): Unit = {
    Main.ensureData(opts)
    val names = opts.expected.get("suites").get(opts.workload).elements().asScala
      .map(_.asText).toVector
    val digests = opts.expected.get("digests")
    val recorded = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val rng = new Random(opts.seed)
    val registry = SparkEntry.queries

    def check(p: Pass): Unit = p.execs.foreach { e =>
      result.attempted += 1
      if (!e.ok) result.fail(s"${e.name}: error or wrong digest")
    }

    def runPass(spark: SparkSession, tracer: Option[Tracer]): Pass = {
      val order = rng.shuffle(names)
      val before = tracer.map(_.snapshot())
      val t0 = System.nanoTime()
      val execs = order.map { name =>
        val e = runQuery(spark, name, registry.get(name), tracer, opts.tables)
        val ok = e._2 match {
          case Some(d) if opts.recordDigests.isDefined =>
            val prev = recorded.getOrElseUpdate(name, d.render)
            prev == d.render
          case Some(d) => Option(digests.get(name)).map(_.asText).contains(d.render)
          case None => false
        }
        e._1.copy(ok = ok)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      Pass(wall, execs, before.map(b => tracer.get.snapshot() - b))
    }

    // set-up: session start through one cold pass, in a fresh session each time
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { rep =>
      if (spark != null) Main.stop(spark)
      val t0 = System.nanoTime()
      spark = Main.session(opts)
      val p = runPass(spark, None)
      val s = (System.nanoTime() - t0) / 1e9
      check(p)
      println(f"perfbench: setup $rep: $s%.3f s (pass ${p.wallS}%.3f s)")
      if (rep == 1) p.execs.foreach(e =>
        println(f"perfbench:   ${e.name}%-32s ${e.wallS}%8.3f s ${if (e.ok) "" else "FAILED"}"))
      s
    }
    result.e2e("setup_s") = Metric(median(setups), "s", setups.size)
    result.info("setup_cold_jvm_s") = Metric(setups.head, "s", 1)

    val w0 = System.nanoTime()
    while ((System.nanoTime() - w0) / 1e9 < WarmupS) check(runPass(spark, None))

    val tracer = if (opts.trace) Some(new Tracer(spark)) else None
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < opts.seconds || passes.size < 2) {
      val traceThis = tracer.isDefined && passes.size % 2 == 1
      if (traceThis) tracer.get.attach()
      val p = runPass(spark, tracer.filter(_ => traceThis))
      if (traceThis) tracer.get.detach()
      check(p)
      println(f"perfbench: pass ${passes.size + 1}: ${p.wallS}%.3f s" +
        (if (traceThis) " (traced)" else ""))
      passes += p
    }
    Main.stop(spark)

    opts.recordDigests.foreach(path => DigestFile.write(path, opts.workload, names, recorded))

    val untraced = passes.filter(_.traced.isEmpty)
    report(untraced.toSeq, result)
    if (opts.trace) layers(passes.toSeq, opts, result)
  }

  private def report(ps: Seq[Pass], result: Result): Unit = {
    val suiteS = median(ps.map(_.wallS))
    val geo = median(ps.map(p => geomean(p.execs.map(_.wallS * 1000))))
    val perQuery = ps.flatMap(_.execs).groupBy(_.name).values
      .map(es => median(es.map(_.wallS * 1000))).toSeq
    result.e2e("work_s") = Metric(suiteS, "s", ps.size)
    result.e2e("latency_ms") = Metric(geo, "ms", ps.size)
    result.info("suite_s") = Metric(suiteS, "s", ps.size)
    result.info("query_geomean_ms") = Metric(geo, "ms", ps.size)
    result.info("query_p90_ms") = Metric(quantile(perQuery, 0.9), "ms", perQuery.size)
  }

  private def layers(passes: Seq[Pass], opts: Opts, result: Result): Unit = {
    val traced = passes.filter(_.traced.isDefined)
    val untraced = passes.filter(_.traced.isEmpty)
    def med(f: Pass => Double) = median(traced.map(f))
    val L = result.layers
    L("queries.build_s") = Metric(med(_.execs.map(_.buildS).sum), "s", traced.size)
    L("queries.action_s") = Metric(med(_.execs.map(_.actionS).sum), "s", traced.size)
    L("queries.jobs_p50") = Metric(median(traced.flatMap(_.execs).map(_.jobs.toDouble)),
      "count", traced.map(_.execs.size).sum)
    L("queries.build_jobs") = Metric(med(_.execs.map(_.buildJobs).sum.toDouble), "count")
    L("plans.plan_s") = Metric(med(_.traced.get.planMs / 1000.0), "s", traced.size)
    L("operators.cpu_s") = Metric(med(_.traced.get.cpuNs / 1e9), "s", traced.size)
    L("operators.run_s") = Metric(med(_.traced.get.runMs / 1000.0), "s", traced.size)
    L("operators.core_util") = Metric(
      med(p => p.traced.get.runMs / 1000.0 / (p.wallS * opts.cpus)), "ratio", traced.size)
    L("operators.tasks") = Metric(med(_.traced.get.tasks.toDouble), "count")
    L("operators.shuffle_write_mb") = Metric(med(_.traced.get.shuffleWrite / 1e6), "MB")
    L("operators.spill_mb") = Metric(med(_.traced.get.spill / 1e6), "MB")
    L("sources.input_mb") = Metric(med(_.traced.get.input / 1e6), "MB")
    L("trace.overhead_pct") = Metric(
      (med(_.wallS) / median(untraced.map(_.wallS)) - 1) * 100, "%")
    passes.flatMap(_.execs).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, es) =>
      result.info(s"queries.${n.takeWhile(_ != '_')}_s") =
        Metric(median(es.map(_.wallS)), "s", es.size)
    }
  }

  /** Build one query, drive it through the digest sink, release its
    * pins. Returns the timings and the digest (None on error). */
  private def runQuery(spark: SparkSession, name: String,
      fn: Option[(SparkSession, String) => DataFrame], tracer: Option[Tracer],
      dir: String): (Exec, Option[DigestSink.Digest]) = {
    val key = s"$name-${System.nanoTime()}"
    val s0 = tracer.map(_.snapshot())
    val t0 = System.nanoTime()
    var t1 = t0
    var s1 = s0
    var t2 = t0
    val digest = try {
      val df = fn.getOrElse(sys.error(s"$name is not in the registry"))(spark, dir)
      t1 = System.nanoTime()
      s1 = tracer.map(_.snapshot())
      val t1b = System.nanoTime()
      df.write.format(DigestSink.format).option("key", key).mode("overwrite").save()
      t2 = System.nanoTime() - (t1b - t1)
      DigestSink.take(key)
    } catch {
      case e: Throwable =>
        println(s"perfbench: $name failed: ${e.getClass.getName}: ${e.getMessage}"
          .take(400))
        t2 = System.nanoTime()
        None
    } finally GraftSession.releaseCaches(spark)
    val s2 = tracer.map(_.snapshot())
    val buildJobs = s1.zip(s0).map { case (a, b) => a.jobs - b.jobs }.getOrElse(0L)
    val jobs = s2.zip(s0).map { case (a, b) => a.jobs - b.jobs }.getOrElse(0L)
    (Exec(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, ok = false, buildJobs, jobs), digest)
  }
}

/** Writes the digests a recording run observed, for `expected.json`. */
object DigestFile {
  def write(path: String, workload: String, names: Seq[String],
      digests: collection.Map[String, String]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("workload", workload)
    val d = root.putObject("digests")
    names.foreach(n => digests.get(n).foreach(v => d.put(n, v)))
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), root)
  }
}
