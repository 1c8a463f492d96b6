package graftbench

import graft.core.GraftSession
import org.apache.spark.sql.SparkSession

import java.nio.file.{Path, Paths}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Box weather: a fixed CPU loop and one tiny Spark job, timed. */
object Sentinel {
  def cpuLoopS(): Double = {
    val t0 = System.nanoTime()
    var x = 0x12345678L
    var i = 0
    while (i < 50000000) { x = Gen.mix(x); i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** The tiny job's second run: the first one pays class loading and codegen. */
  def sparkJobS(spark: SparkSession): Double = {
    def once() = {
      val t0 = System.nanoTime()
      spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    once()
  }

  def apply(spark: SparkSession): (Double, Double) = (cpuLoopS(), sparkJobS(spark))
}

/** Runs one workload for one seed and prints the result as the last line.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --spans <file> --launch-ms <epoch ms the JVM was launched>
  * }}}
  */
object Main {

  /** The workloads BENCHMARK.json names. */
  def workload(name: String, spark: SparkSession, seed: Long, work: Path): Workload =
    name match {
      case "school_scale" => new SchoolWorkload(spark, seed, work, 200, 10, latencyMs = 20)
      case "crawl_index" => new CrawlIndexWorkload(spark, seed, work, nPages = 40, nHosts = 4,
        nVectors = 1000)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = opts("launch-ms").toLong
    val spark = GraftSession.local(cores = Runtime.getRuntime.availableProcessors(),
      appName = "perfbench")
    System.err.println(f"perfbench: session up after ${(System.currentTimeMillis() - launchMs) / 1e3}%.3f s")
    try run(spark, opts, launchMs)
    catch {
      case e: CheckFailed =>
        System.err.println(s"perfbench: output check failed: ${e.getMessage}")
        sys.exit(3)
    } finally spark.stop()
  }

  private def run(spark: SparkSession, opts: Map[String, String], launchMs: Long): Unit = {
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath

    Files2.deleteTree(work)
    val wl = workload(name, spark, seed, work)
    wl.prepare()
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    // the sentinel times the box at the start and at the end of the timed part
    val sentinel0 = Sentinel(spark)

    val tr = new Tracer(spark, enabled = traced)
    val results = scala.collection.mutable.ArrayBuffer.empty[IterResult]
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    // iterations start while the next one is expected to end within the window
    while (results.isEmpty || elapsed + elapsed / results.size <= seconds) {
      results += wl.iteration(results.size + 1, tr)
      tr.endIteration()
    }
    val sentinel1 = Sentinel(spark)

    def m(f: IterResult => Double) = Stats.median(results.map(f).toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("build_s", m(_.buildS), "s"),
        ("update_s", m(_.updateS), "s"),
        ("items_per_s", m(r => r.items / r.loopS), "1/s"),
        ("first_result_s", m(_.firstResultS), "s"),
        ("rss_peak_mb", VmHwmMb(), "MB"))
      else {
        // a traced run prints every workload's layer metrics; the phases
        // this workload does not run read 0
        val layers = tr.medians
        LayerNames.of(name).foreach(n => require(layers.contains(n), s"no layer metric $n"))
        LayerNames.all.map(n => (n, layers.getOrElse(n, 0.0), LayerNames.unit(n)))
      }
    if (traced) tr.write(Paths.get(opts("spans")).toAbsolutePath)
    System.err.println(f"perfbench: setup $setupS%.3f s, ${results.size} iterations, " +
      s"${tr.spanCount} spans")

    println(f"""{"sentinel": {"cpu_loop_s": [${sentinel0._1}%.4f, ${sentinel1._1}%.4f], """ +
      f""""spark_job_s": [${sentinel0._2}%.4f, ${sentinel1._2}%.4f]}, """ +
      s""""iterations": ${results.size}}""")
    println(metrics.map { case (n, _, _) =>
      s""""$n": ${if (n == "setup_s" || n == "rss_peak_mb") 1 else results.size}"""
    }.mkString("""{"samples": {""", ", ", "}}"))
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
      .mkString(", ")
    // every output check passed, or the run would have ended above; a failed
    // operation fails the run, so `failed` is 0
    println(s"""{"correct": true, "attempted": ${results.map(_.attempted).sum}, """ +
      s""""failed": 0, "metrics": {$body}}""")
  }
}

object VmHwmMb {
  def apply(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
