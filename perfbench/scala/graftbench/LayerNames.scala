package graftbench

/** The per-layer metric names, `<phase>.<counter>`. */
object LayerNames {
  val PhaseCounters: Seq[(String, String)] = Seq("wall_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "task_cpu_s" -> "s", "gc_s" -> "s", "shuffle_mb" -> "MB",
    "driver_gap_s" -> "s")
  val CrawlStages: Seq[String] = Seq("01_warc", "02_pages", "03_admitted", "04_url_dedup",
    "04b_admit", "05_content", "06_quality", "07_para_dedup", "07b_lex_index", "08_splits",
    "09_pack")

  private def phases(ps: String*): Seq[String] =
    ps.flatMap(p => PhaseCounters.map(c => s"$p.${c._1}"))

  /** The per-layer metrics a traced run of `workload` prints. */
  def of(workload: String): Seq[String] = (workload match {
    case "school_scale" =>
      phases("markdown", "enrich", "site", "rerun") ++
        Seq("calls", "retries", "inflight_peak", "rpm_achieved", "rpm_ratio", "sleep_s",
          "useful_frac").map("enrich." + _) ++ Seq("sink.files", "sink.mb")
    case "crawl_index" =>
      phases("crawl", "pq_build", "pq_update", "lex_update", "pq_query", "lex_query") ++
        CrawlStages.map(st => s"crawl.${st}_s") ++
        Seq("pq_query.recall_at_10", "index.files", "index.mb", "index.generations")
  }) :+ "trace.overhead_s"

  /** Every workload's layer metrics, in BENCHMARK.json's order. */
  val all: Seq[String] = (of("school_scale") ++ of("crawl_index")).distinct

  def unit(name: String): String = name.substring(name.lastIndexOf('.') + 1) match {
    case c if PhaseCounters.exists(_._1 == c) => PhaseCounters.find(_._1 == c).get._2
    case s if s.endsWith("_s") => "s"
    case "mb" => "MB"
    case "rpm_achieved" => "1/min"
    case "rpm_ratio" | "useful_frac" | "recall_at_10" => "ratio"
    case _ => "count"
  }
}
