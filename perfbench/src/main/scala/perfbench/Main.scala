package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark program. One JVM runs one workload with one seed and
  * prints, as its last stdout line, `PERFBENCH_RESULT <json>`: the
  * end-to-end metrics, the per-layer metrics (when tracing), attempt
  * and failure counts. `perfbench/run.py` builds this program, starts
  * it and turns that line into the benchmark's result.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --data <dir> --work <dir> --expected <json>
  *   [--record-digests <json>]
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, expected: JsonNode,
      cpus: Int, recordDigests: Option[String]) {
    def scale: Double = expected.get("data").get("scale").asDouble
    def dataSeed: Long = expected.get("data").get("seed").asLong
    /** The generated tables for this (scale, data seed). */
    def tables: String = s"$data/sf$scale-seed$dataSeed"
  }

  /** One reported number: its value, unit and, for a latency, the
    * sample count it was taken from. */
  final case class Metric(value: Double, unit: String, samples: Long = -1)

  final class Result {
    val e2e = mutable.LinkedHashMap.empty[String, Metric]
    val layers = mutable.LinkedHashMap.empty[String, Metric]
    val info = mutable.LinkedHashMap.empty[String, Metric]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def fail(what: String): Unit = {
      failed += 1
      if (failures.size < 20) failures += what
    }
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mapper = new ObjectMapper()
    val opts = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("work"),
      mapper.readTree(new File(kv("expected"))),
      math.min(4, Runtime.getRuntime.availableProcessors()),
      kv.get("record-digests"))
    val result = new Result
    try opts.workload match {
      case "suite" => Suite.run(opts, result)
      case "live-serve" => Live.run(opts, result)
      case "gen-data" => ensureData(opts); sys.exit(0)
      case other => sys.error(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    result.info("peak_rss_mb") = Metric(peakRssMb(), "MB")
    println("PERFBENCH_RESULT " + toJson(opts, result))
    System.out.flush()
    // non-daemon threads left by a stopped session must not keep the JVM up
    sys.exit(0)
  }

  /** A graft-configured local session whose warehouse, scratch and
    * checkpoint files stay under the work directory. */
  def session(opts: Opts, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = GraftSession.configure(SparkSession.builder(), opts.cpus.toString)
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .config("spark.local.dir", s"${opts.work}/tmp")
      .config("spark.sql.streaming.checkpointLocation", s"${opts.work}/checkpoints")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Ensure the generated tables exist; generation is not timed.
    * `run.py` generates them in a JVM of their own (`--workload
    * gen-data`), so a workload's first set-up still starts cold. */
  def ensureData(opts: Opts): Unit = {
    if (new File(opts.tables, DataGen.marker).exists()) return
    val spark = session(opts)
    try DataGen.ensure(spark, opts.tables, opts.scale, opts.dataSeed)
    finally spark.stop()
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(new File("/proc/self/status").toPath),
      StandardCharsets.UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:")).map { l =>
      l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
  }

  private def toJson(opts: Opts, r: Result): String = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("workload", opts.workload)
    root.put("seed", opts.seed)
    root.put("trace", opts.trace)
    root.put("attempted", r.attempted)
    root.put("failed", r.failed)
    val fails = root.putArray("failures")
    r.failures.foreach(f => fails.add(f))
    Seq("e2e" -> r.e2e, "layers" -> r.layers, "info" -> r.info).foreach {
      case (k, ms) =>
        val node = root.putObject(k)
        ms.foreach { case (name, m) =>
          val o = node.putObject(name)
          o.put("value", m.value)
          o.put("unit", m.unit)
          if (m.samples >= 0) o.put("samples", m.samples)
        }
    }
    mapper.writeValueAsString(root)
  }
}
