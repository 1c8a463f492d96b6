package graftbench

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Interval arithmetic for self time. */
object Intervals {
  /** Total length covered by the union of `[start, end)` intervals, each
    * first clipped to `[lo, hi)`.
    */
  def unionLength(spans: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** A phase's self time: its wall time minus what its children cover. */
  def selfTime(lo: Double, hi: Double, children: Seq[(Double, Double)]): Double =
    (hi - lo) - unionLength(children, lo, hi)
}

/** Counts Spark jobs and their tasks. Jobs belong to the phase whose job
  * group they carry, or, when a job was submitted from a thread that did
  * not inherit the group, to the phase whose time window holds its start.
  */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val group: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    val cpuNs = new java.util.concurrent.atomic.AtomicLong()
    val gcMs = new java.util.concurrent.atomic.AtomicLong()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, group, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.tasks.incrementAndGet()
      if (m != null) {
        j.cpuNs.addAndGet(m.executorCpuTime)
        j.gcMs.addAndGet(m.jvmGCTime)
        j.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  def jobsOf(group: String, startMs: Long, endMs: Long): Seq[Job] =
    jobs.values().asScala.toSeq.filter { j =>
      j.group == group || (!j.group.startsWith(Tracer.GroupPrefix) &&
        j.startMs >= startMs && j.startMs <= endMs)
    }.sortBy(_.id)
}

/** Spans of one run, kept in memory and written as JSON lines at the end. */
final class Tracer(spark: org.apache.spark.sql.SparkSession, val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, iter: Int, name: String,
      startMs: Double, endMs: Double, attrs: Map[String, Double])

  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  val listener: Option[JobListener] =
    if (enabled) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
  // driver-thread time the tracer spends between phases in this iteration
  private var overheadNs = 0L

  /** Layer counters of the current iteration: phase counters are summed
    * over the phase's calls and reported per call; others are set.
    */
  private val sums = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val calls = scala.collection.mutable.LinkedHashMap.empty[String, Int]
  private val fixed = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val perIter = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]

  private def newId(): Long = { val i = nextId; nextId += 1; i }

  /** Runs `body` as phase `name` of iteration `iter`; with tracing on, sets
    * the phase's job group and records its span, its jobs' spans, and its
    * counters under `name.<counter>`.
    */
  def phase[T](iter: Int, name: String)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    val id = newId()
    val group = s"${Tracer.GroupPrefix}$id"
    if (enabled) sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out =
      try body
      finally if (enabled) sc.clearJobGroup()
    val wall = (System.nanoTime() - n0) / 1e9
    System.err.println(f"perfbench: iteration $iter $name $wall%.3f s")
    val t1 = t0 + wall * 1000.0
    val o0 = System.nanoTime()
    for (l <- listener) {
      org.apache.spark.BenchBus.drain(sc)
      val jobs = l.jobsOf(group, t0, t1.toLong + 1)
      val jobSpans = jobs.map { j =>
        val end = if (j.endMs < 0) t1 else j.endMs.toDouble
        spans += Span(newId(), id, iter, s"job ${j.id}", j.startMs.toDouble, end,
          Map("tasks" -> j.tasks.get.toDouble, "cpu_s" -> j.cpuNs.get / 1e9))
        (j.startMs.toDouble, end)
      }
      spans += Span(id, 0L, iter, name, t0.toDouble, t1, Map.empty)
      lastPhaseId = id
      calls(name) = calls.getOrElse(name, 0) + 1
      add(name, Seq(
        "wall_s" -> wall,
        "jobs" -> jobs.size.toDouble,
        "tasks" -> jobs.map(_.tasks.get).sum.toDouble,
        "task_cpu_s" -> jobs.map(_.cpuNs.get).sum / 1e9,
        "gc_s" -> jobs.map(_.gcMs.get).sum / 1e3,
        "shuffle_mb" -> jobs.map(_.shuffleBytes.get).sum / 1048576.0,
        "driver_gap_s" -> Intervals.selfTime(t0.toDouble, t1, jobSpans) / 1000.0))
      overheadNs += System.nanoTime() - o0
    }
    (out, wall)
  }

  private var lastPhaseId = 0L

  /** Child spans of the most recent phase (e.g. transport calls), given as
    * epoch milliseconds.
    */
  def children(iter: Int, items: => Seq[(String, Double, Double)]): Unit =
    if (enabled) items.foreach { case (n, s, e) =>
      spans += Span(newId(), lastPhaseId, iter, n, s, e, Map.empty)
    }

  private def add(phase: String, kv: Seq[(String, Double)]): Unit =
    kv.foreach { case (k, v) => sums(s"$phase.$k") = sums.getOrElse(s"$phase.$k", 0.0) + v }

  /** Sets counters `<prefix>.<name>` (or `<name>` for an empty prefix) for
    * the current iteration; counters that are not Spark's own come in here.
    */
  def set(prefix: String, kv: Seq[(String, Double)]): Unit =
    if (enabled) kv.foreach { case (k, v) => fixed(if (prefix.isEmpty) k else s"$prefix.$k") = v }

  /** Closes the iteration's counters; `trace.overhead_s` is the time the
    * tracer held up the iteration (waiting for the listener bus to drain,
    * building spans and counters).
    */
  def endIteration(): Unit = {
    if (enabled) fixed("trace.overhead_s") = overheadNs / 1e9
    overheadNs = 0L
    perIter += sums.map { case (k, v) =>
      k -> v / calls.getOrElse(k.substring(0, k.lastIndexOf('.')), 1)
    }.toMap ++ fixed
    sums.clear(); calls.clear(); fixed.clear()
  }

  /** Each counter's median over the closed iterations. */
  def medians: Map[String, Double] =
    perIter.flatMap(_.keys).distinct.map { k =>
      k -> Stats.median(perIter.flatMap(_.get(k)).toSeq)
    }.toMap

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      sb.append(s"""{"id": ${s.id}, "parent": ${s.parent}, "iter": ${s.iter}, """ +
        f""""name": "${s.name}", "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f""" +
        (if (attrs.nonEmpty) s", $attrs" else "") + "}\n")
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }

  def spanCount: Int = spans.size
}

object Tracer {
  val GroupPrefix = "bench-"
}
